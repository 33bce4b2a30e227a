"""Deployment-artifact e2e: build dist/, run it through a REAL
spark-submit (fresh JVM, code delivered via --py-files, conf via
--properties-file) against local files, and check the pipeline output.

This is the dry-run the DEPLOY.md contract promises: a user who builds
the package and points submit.sh at their directories gets the same
marker-driven incremental split the library API produces.
"""

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def dist_dir(tmp_path_factory):
    dist = str(tmp_path_factory.mktemp("dist"))
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts/build_submit_package.py"),
         dist],
        capture_output=True, text=True, check=True)
    assert "zip" in out.stdout
    return dist


def test_package_contents(dist_dir):
    for rel in ("glue_parquet_splitter_spark.zip", "submit_job.py",
                "submit.sh", "conf/local.properties",
                "conf/s3a-cluster.properties"):
        assert os.path.exists(os.path.join(dist_dir, rel)), rel
    local = open(os.path.join(dist_dir, "conf/local.properties")).read()
    cluster = open(os.path.join(dist_dir, "conf/s3a-cluster.properties")).read()
    # the committer binding must be cluster-only (pip pyspark wedges on it)
    assert "PathOutputCommitProtocol" not in local
    assert "PathOutputCommitProtocol" in cluster
    assert "fs.s3a.committer.name magic" in cluster


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_dry_run(dist_dir, tmp_path, sample_data):
    out_dir, marker_dir = str(tmp_path / "out"), str(tmp_path / "markers")
    env = dict(os.environ, PROFILE="local", MASTER="local[2]",
               SPARK_GRAFT_DRIVER_MEM="2g")
    res = subprocess.run(
        [os.path.join(dist_dir, "submit.sh"),
         f"{sample_data}/input", out_dir, marker_dir],
        capture_output=True, text=True, env=env, timeout=420)
    assert res.returncode == 0, res.stderr[-3000:]

    markers = sorted(glob.glob(f"{marker_dir}/*.json"))
    assert len(markers) == 3
    with open(markers[0]) as f:
        doc = json.load(f)
    assert doc["output_count"] == 30 and len(doc["outputs"]) == 30
    assert doc["input_fingerprint"]
    # 30 item_id dirs, each holding one file per processed day
    key_dirs = [d for d in os.listdir(out_dir)
                if os.path.isdir(os.path.join(out_dir, d))]
    assert len(key_dirs) == 30
    days = os.listdir(os.path.join(out_dir, key_dirs[0]))
    assert len(days) == 3

"""Scheme-aware exact-layout writes + builder-time S3A profile.

The parity writers (``split_day`` and the batched incremental
driver) write group files from executors through
pyarrow.fs, so output/marker locations may be URIs, not just local
paths.  ``file://`` is the URI scheme we can exercise end-to-end in
this container; it drives the exact same ``FileSystem.from_uri`` code
path an ``s3://``/``gs://`` deployment would take.
"""

import json

import pandas as pd
import pyarrow as pa
import pytest

from glue_parquet_splitter_spark.pipeline import run_incremental
from glue_parquet_splitter_spark.pipeline.splitter import (
    resolve_fs,
    split_day,
    write_parquet_object,
)


def test_resolve_fs_local_and_uri(tmp_path):
    from pyarrow import fs as pafs

    f1, p1 = resolve_fs(str(tmp_path / "x.parquet"))
    assert isinstance(f1, pafs.LocalFileSystem) and p1.endswith("x.parquet")
    f2, p2 = resolve_fs(f"file://{tmp_path}/y.parquet")
    assert p2 == f"{tmp_path}/y.parquet"


def test_resolve_fs_maps_s3a_scheme(monkeypatch):
    """s3a:// and s3n:// (Hadoop's scheme names) reach pyarrow's URI
    resolver as s3:// with the bucket alone, and the in-fs path keeps
    the bucket and key.  The resolver is replaced by a recorder, so no
    S3 client is built and no host is contacted."""
    from pyarrow import fs as pafs

    seen, stub = [], object()

    class RecordingFileSystem:
        @staticmethod
        def from_uri(uri):
            seen.append(uri)
            # pyarrow's S3 resolver gives the bucket as the root path
            return stub, uri.split("://", 1)[1].rstrip("/")

    monkeypatch.setattr(pafs, "FileSystem", RecordingFileSystem)
    for scheme in ("s3a", "s3n"):
        filesystem, path = resolve_fs(f"{scheme}://bucket/key/file.parquet")
        assert filesystem is stub
        assert path == "bucket/key/file.parquet"
    assert seen == ["s3://bucket/", "s3://bucket/"]


def test_write_parquet_object_file_uri(tmp_path):
    pdf = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    uri = f"file://{tmp_path}/nested/dir/out.parquet"
    write_parquet_object(pa.Table.from_pandas(pdf, preserve_index=False), uri)
    local = tmp_path / "nested" / "dir" / "out.parquet"
    assert local.exists()
    assert pd.read_parquet(local).equals(pdf)


def test_split_day_exact_layout_file_uri(spark, tmp_path):
    df = spark.createDataFrame(
        [("k1", 1), ("k2", 2), ("k1", 3)], "item_id string, v long"
    )
    outputs = split_day(df, f"file://{tmp_path}/out", "20250101")
    assert len(outputs) == 2
    for k, n in (("k1", 2), ("k2", 1)):
        p = tmp_path / "out" / k / "20250101.parquet"
        assert p.exists() and len(pd.read_parquet(p)) == n


def test_run_incremental_file_uris(spark, tmp_path):
    """Full marker-driven run with every location given as file:// —
    listing (Hadoop FS), group writes (pyarrow.fs), markers (pyarrow.fs)."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    pd.DataFrame(
        {"item_id": ["a", "b", "a"], "sales_figures": [1, 2, 3]}
    ).to_parquet(in_dir / "20250101.parquet", index=False)

    res = run_incremental(
        spark, "t", f"file://{in_dir}", f"file://{tmp_path}/out",
        f"file://{tmp_path}/markers",
    )
    assert res["processed_days"] == 1
    marker = json.loads((tmp_path / "markers" / "20250101.json").read_text())
    assert marker["output_count"] == 2
    assert (tmp_path / "out" / "a" / "20250101.parquet").exists()
    # idempotent: second run sees the marker through the same URIs
    res2 = run_incremental(
        spark, "t", f"file://{in_dir}", f"file://{tmp_path}/out",
        f"file://{tmp_path}/markers",
    )
    assert res2["processed_days"] == 0


def test_s3a_profile_builder_translation(spark):
    """The production path: builder-time ``spark.hadoop.*`` keys reach
    the Hadoop configuration via ``SparkHadoopUtil.newConfiguration`` —
    the exact translation SparkContext applies at session build.  Run
    it in the shared JVM (a second cold JVM regularly exceeds test
    timeouts on this host) against a SparkConf holding only the
    profile, which is what a fresh builder would pass in."""
    from glue_parquet_splitter_spark.cloud import s3a_profile

    jvm = spark.sparkContext._jvm
    jconf = jvm.org.apache.spark.SparkConf(False)
    for k, v in s3a_profile().items():
        jconf.set(k, v)
    hconf = jvm.org.apache.spark.deploy.SparkHadoopUtil.get().newConfiguration(jconf)
    assert hconf.get("fs.s3a.committer.name") == "magic"
    assert hconf.get("fs.s3a.connection.maximum") == "64"
    assert hconf.get("fs.s3a.committer.magic.enabled") == "true"


def test_s3a_profile_committer_classes_exist(spark):
    """The committer class names in the profile must load in a cluster
    distribution — a typo would only surface at first write on a real
    cluster.  The pip pyspark wheel omits the ``spark-hadoop-cloud``
    jar these classes ship in (checked: no hadoop-cloud jar under
    ``pyspark/jars``), so skip there; on any ``-Phadoop-cloud`` distro
    this runs for real."""
    import py4j.protocol
    from glue_parquet_splitter_spark.cloud import s3a_profile

    jvm = spark.sparkContext._jvm
    for key in ("spark.sql.sources.commitProtocolClass",
                "spark.sql.parquet.output.committer.class"):
        cls = s3a_profile()[key]
        try:
            jvm.java.lang.Class.forName(cls)  # raises if absent
        except py4j.protocol.Py4JJavaError as e:
            if "ClassNotFoundException" in str(e):
                pytest.skip("spark-hadoop-cloud jar not in the pip wheel; "
                            "class names verified against Spark source docs")
            raise

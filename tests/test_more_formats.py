"""Additional source/sink formats: ORC, compression codecs, binary-file
ingestion (the multimodal media-landing path)."""

import os

from pyspark.sql import functions as F

from glue_parquet_splitter_spark.catalog import load_table



def test_orc_roundtrip(spark, sf_dir, tmp_path):
    d = load_table(spark, sf_dir, "nation")
    p = str(tmp_path / "orc")
    d.write.mode("overwrite").orc(p)
    back = spark.read.orc(p)
    assert back.count() == d.count()
    assert sorted(back.columns) == sorted(d.columns)


def test_parquet_codecs(spark, sf_dir, tmp_path):
    """zstd/gzip/snappy parquet round-trips (codec is a config swap)."""
    d = load_table(spark, sf_dir, "region")
    for codec, ext in [("zstd", ".zstd.parquet"), ("gzip", ".gz.parquet"),
                       ("snappy", ".snappy.parquet")]:
        p = str(tmp_path / codec)
        d.write.mode("overwrite").option("compression", codec).parquet(p)
        assert spark.read.parquet(p).count() == d.count()
        files = [f for f in os.listdir(p) if f.endswith(".parquet")]
        assert files and all(f.endswith(ext) for f in files)


def test_binary_file_ingestion(spark, sample_data):
    """binaryFile source: land media objects as (path, length, content)
    rows — the ingestion path for the multimodal operators, which then
    decode via mapInPandas (operators/multimodal.py)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(f"{sample_data}/input")
        .select("path", "length", "content")
    )
    rows = df.collect()
    assert len(rows) == 3
    for r in rows:
        real = os.path.getsize(r.path.replace("file:", ""))
        assert r.length == real == len(r.content)


def test_python_datasource_marker_table(spark, tmp_path):
    """Spark 4 Python DataSource API: the marker protocol as a table —
    one row per committed day, both marker schemas normalized, parsing
    distributed (driver lists paths only)."""
    import os

    from pyspark.sql import functions as F

    from glue_parquet_splitter_spark.pipeline import run_incremental
    from glue_parquet_splitter_spark.sources.markers import read_markers

    tmp = str(tmp_path)
    in_dir = f"{tmp}/input"
    os.makedirs(in_dir)
    for i, date in enumerate(("20250601", "20250602", "20250603")):
        df = spark.range(200).select(
            F.lpad((F.col("id") % 5).cast("string"), 10, "0").alias("item_id"),
            F.col("id").alias("v"))
        stage = f"{tmp}/stage{i}"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.rename(f"{stage}/{part}", f"{in_dir}/{date}.parquet")

    run_incremental(spark, "fmt", in_dir, f"{tmp}/out_o", f"{tmp}/mk_o")
    run_incremental(spark, "fmt", in_dir, f"{tmp}/out_c", f"{tmp}/mk_c",
                    manifest="counts")

    for mk, has_manifest in ((f"{tmp}/mk_o", False), (f"{tmp}/mk_c", True)):
        rows = {r.date: r for r in read_markers(spark, mk).collect()}
        assert sorted(rows) == ["20250601", "20250602", "20250603"]
        for date, r in rows.items():
            assert r.kind == "fmt" and r.output_count == 5
            assert r.input_key.endswith(f"{date}.parquet")
            assert (r.outputs_manifest is not None) == has_manifest
    # SQL over the custom source composes like any table
    read_markers(spark, f"{tmp}/mk_o").createOrReplaceTempView("mk")
    lag = spark.sql(
        "SELECT COUNT(*) AS days, SUM(output_count) AS outs FROM mk"
    ).collect()[0]
    assert (lag.days, lag.outs) == (3, 15)


def test_pack_ppm_rejects_non_ascii_text(spark):
    """ADVICE r9: rpad pads to w*h*3 CHARACTERS; a non-ASCII character
    UTF-8-encodes to >1 byte and would desync the P6 pixel plane from
    the header — the pack-time guard must fail LOUDLY, not drift."""
    import pytest as _pytest

    from glue_parquet_splitter_spark.operators.multimodal import (
        decode_ppm,
        pack_ppm,
    )

    ok = spark.createDataFrame([(1, "plain ascii", 11)],
                               "doc_id long, text string, n_chars long")
    assert decode_ppm(pack_ppm(ok)).count() == 1

    bad = spark.createDataFrame([(2, "café latte", 10)],
                                "doc_id long, text string, n_chars long")
    with _pytest.raises(Exception, match="non-ASCII|USER_RAISED"):
        pack_ppm(bad).collect()

"""Parity pins for the r15 vectorized batch CDC chunker.

``_cdc_chunks`` (NumPy inside ``mapInPandas``) and the pure-expression
form ``_cdc_chunk_list_expr`` (still used verbatim by the streaming
chunk index) must stay byte-identical — the two implementations are
the one place the CDC family's batch and streaming arms can drift.
"""

import pytest
from pyspark.sql import functions as F

from glue_parquet_splitter_spark.queries.tokenizer_q import (
    _cdc_chunk_list_expr,
    _cdc_chunks,
)


def _expr_chunks(df):
    """The pre-r15 expression chunker, kept here as the parity
    reference (same construction the streaming twin uses)."""
    c = (df.filter(F.col("n_chars") >= 1)
         .select("doc_id", "text",
                 F.posexplode(F.expr(_cdc_chunk_list_expr()))
                 .alias("chunk_idx", "c")))
    return c.select(
        "doc_id", "chunk_idx",
        F.col("c.s").alias("chunk_start"),
        F.col("c.l").alias("chunk_len"),
        F.md5(F.expr("substr(text, CAST(c.s + 1 AS INT),"
                     " CAST(c.l AS INT))")).alias("chunk_md5"))


def test_arrow_chunker_matches_expression_form(spark, sf_dir):
    """Full-fixture equality: every (doc, chunk) row identical between
    the NumPy chunker and the expression chunker — boundaries, lengths
    and md5s."""
    from glue_parquet_splitter_spark.catalog import load_table
    from glue_parquet_splitter_spark.operators.text import unique_documents

    d = (unique_documents(load_table(spark, sf_dir, "documents"))
         .select("doc_id", "text", "n_chars"))
    a = _cdc_chunks(d)
    b = _expr_chunks(d)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_arrow_chunker_edge_contracts(spark):
    """The expression form's edge contracts carry over: NULL text is
    one whole-span chunk with NULL md5; short docs (< window) are one
    whole-doc chunk; multi-byte chars hash by codepoint (ascii()
    parity); n_chars < len truncates like substr; n_chars > len(text)
    with n_chars >= window RAISES (the expression's ANSI element_at
    contract)."""
    astral = 'emoji 😀🚀 mid 𝄞 end padx'              # supplementary-plane chars
    rows = [
        (1, None, 5),
        (2, "tiny", 4),                       # < window: single chunk
        (3, "héllo wörld çedilla ümlaut!", 27),  # multi-byte codepoints
        (4, "a" * 100, 40),                   # n < len: truncate
        # astral (surrogate-pair) codepoints: Spark's split('') /
        # length / ascii are all codepoint-aware (probed on this
        # build), matching Python's 1-codepoint-per-emoji — the one
        # place the two chunkers could have disagreed (ADVICE r15)
        (5, astral, len(astral)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    got = _cdc_chunks(df)
    want = _expr_chunks(df)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    nul = got.filter(F.col("doc_id") == 1).collect()
    assert len(nul) == 1 and nul[0].chunk_md5 is None \
        and nul[0].chunk_len == 5
    one = got.filter(F.col("doc_id") == 2).collect()
    assert len(one) == 1 and one[0].chunk_len == 4

    bad = spark.createDataFrame([(9, "short", 300)],
                                "doc_id long, text string, n_chars long")
    with pytest.raises(Exception):
        _cdc_chunks(bad).collect()


def test_streaming_runner_arrow_chunker_matches_expression(spark, sf_dir,
                                                           tmp_path):
    """The streaming twin now runs the NumPy chunker via stateless
    mapInPandas (r16); the expression form stays the dependency-free
    fallback.  Both runner paths must produce identical chunk rows for
    the same landing table."""
    from glue_parquet_splitter_spark.catalog import load_table
    from glue_parquet_splitter_spark.operators.text import unique_documents
    from glue_parquet_splitter_spark.queries.tokenizer_q import (
        _cdc_chunk_list_expr, _cdc_chunks)
    from glue_parquet_splitter_spark.streaming.windows import (
        run_cdc_chunk_index_stream)

    # the landing table plus one doc with NULL n_chars: it has no span
    # to chunk, so both forms must drop it
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    null_id = docs.agg(F.max("doc_id")).first()[0] + 1
    null_row = docs.limit(1).select(
        *[F.lit(null_id).cast(f.dataType).alias(f.name) if f.name == "doc_id"
          else F.lit(None).cast(f.dataType).alias(f.name)
          if f.name == "n_chars" else F.col(f.name)
          for f in docs.schema.fields])
    path = str(tmp_path / "landing")
    docs.unionByName(null_row).write.parquet(path)
    winners = unique_documents(load_table(spark, sf_dir, "documents")
                               .unionByName(null_row))
    via_expr = run_cdc_chunk_index_stream(
        spark, path, _cdc_chunk_list_expr(), winners=winners)
    via_arrow = run_cdc_chunk_index_stream(
        spark, path, winners=winners, chunker=_cdc_chunks)
    # nullability differs (posexplode pos is non-nullable; mapInPandas
    # output is nullable) — names and types must match exactly
    assert [(f.name, f.dataType) for f in via_expr.schema.fields] == \
        [(f.name, f.dataType) for f in via_arrow.schema.fields]
    got = sorted(map(tuple, via_arrow.collect()))
    assert sorted(map(tuple, via_expr.collect())) == got
    assert got and null_id not in {r[0] for r in got}

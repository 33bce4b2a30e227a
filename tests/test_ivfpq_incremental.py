"""IVFPQ incremental ingest (VERDICT r12 #3): the codebook FREEZE is
bit-identical, the incremental index equals the from-scratch one, and
the serving plan never re-encodes the base corpus (base rows enter
only through the ivf_codes_base parquet scan)."""

import re

import pyspark.sql.functions as F

from glue_parquet_splitter_spark.operators import similarity as S
from glue_parquet_splitter_spark.pipeline.ivfpq_ingest import (
    BASE_SPLIT,
    DSUB,
    M,
    N_COARSE,
    NC,
    STAGE_TABLES,
    STRIDE,
    ivfpq_incremental_search,
    materialize_ivfpq_base,
    run_incremental_ivfpq,
)
from glue_parquet_splitter_spark.plans import physical_plan


def _vecs(spark, sf_dir):
    e = S.finite_vectors(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return e.select("vec_id",
                    F.col("embedding").cast("array<double>").alias("v"))


def test_stage_tables_materialize(spark, sf_dir, tmp_path):
    # the concurrent model writes run inside the caller's job group
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("ivfpq_materialize", "stage tables")
    try:
        paths = materialize_ivfpq_base(spark, sf_dir, str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    # no new ungrouped job; the status store may evict old ones meanwhile
    # (it keeps spark.ui.retainedJobs), so this is not an equality
    assert not set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped
    assert sc.statusTracker().getJobIdsForGroup("ivfpq_materialize")
    assert set(paths) == set(STAGE_TABLES)
    cents = spark.read.parquet(paths["ivf_cents"])
    book = spark.read.parquet(paths["ivf_book"])
    codes = spark.read.parquet(paths["ivf_codes_base"])
    assert cents.count() == N_COARSE
    assert book.count() == M * NC
    # codes are m small ints per vector, for base vectors only
    assert set(codes.columns) == {"vec_id", "cid", "s", "j"}
    assert codes.groupBy("vec_id").count().filter(
        F.col("count") != M).count() == 0
    assert codes.filter(F.col("vec_id") >= BASE_SPLIT).count() == 0


def test_codebook_freeze_is_bit_identical(spark, sf_dir):
    """The frozen model built from the BASE corpus equals the model the
    same recipe yields on base∪delta (centroid and sample ids all sit
    below BASE_SPLIT), and the delta batch encoded against the frozen
    model is bit-identical to its rows of a full-corpus encoding —
    the algebraic fact that makes append-only ingest exact."""
    vecs = _vecs(spark, sf_dir)
    base = vecs.filter(F.col("vec_id") < BASE_SPLIT)
    cents_b, book_b = S.ivfpq_build(base, n_coarse=N_COARSE, m=M,
                                    dsub=DSUB, nc=NC, stride=STRIDE)
    cents_f, book_f = S.ivfpq_build(vecs, n_coarse=N_COARSE, m=M,
                                    dsub=DSUB, nc=NC, stride=STRIDE)
    assert sorted(map(tuple, cents_b.collect())) == \
        sorted(map(tuple, cents_f.collect()))
    assert sorted(map(tuple, book_b.collect())) == \
        sorted(map(tuple, book_f.collect()))
    delta = vecs.filter(F.col("vec_id") >= BASE_SPLIT)
    inc = S.ivfpq_encode(S.ivfpq_assign(delta, cents_b), book_b,
                         m=M, dsub=DSUB)
    full = S.ivfpq_encode(
        S.ivfpq_assign(vecs.filter(F.col("vec_id") >= N_COARSE), cents_b),
        book_b, m=M, dsub=DSUB)
    assert sorted(map(tuple, inc.collect())) == \
        sorted(map(tuple,
                   full.filter(F.col("vec_id") >= BASE_SPLIT).collect()))


def test_serving_plan_never_reencodes_base(spark, sf_dir, tmp_path):
    """Plan pin: the incremental-search plan reads base vectors ONLY
    as stored codes — the ivf_codes_base scan is present, and every
    embeddings scan that feeds the assign/encode path (reads vec_id)
    carries a pushed vec_id bound restricting it to the delta batch
    (>= BASE_SPLIT) or the 8-query slice (< N_COARSE + 8); base ids
    4..BASE_SPLIT-1 never flow into an encode.  (Scans reading ONLY
    the embedding column are the finite_vectors modal-dimension
    aggregate — a stats pass, not an encode.)"""
    materialize_ivfpq_base(spark, sf_dir, str(tmp_path))
    df = ivfpq_incremental_search(spark, sf_dir, str(tmp_path))
    # default 100-char metadata cap truncates Location/PushedFilters
    old = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        plan = physical_plan(df)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    assert "ivf_codes_base" in plan
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    emb_encode_scans = [
        ln for ln in scans
        if "embeddings" in ln and re.search(r"FileScan parquet \[[^\]]*vec_id", ln)
    ]
    assert emb_encode_scans, "expected delta/query embeddings scans"
    for ln in emb_encode_scans:
        m_ = re.search(r"PushedFilters: \[([^\]]*)\]", ln)
        assert m_, ln
        pushed = m_.group(1)
        assert (f"GreaterThanOrEqual(vec_id,{BASE_SPLIT})" in pushed
                or "LessThan(vec_id,12)" in pushed), (
            "embeddings scan not restricted to delta batch or query "
            "slice:\n" + ln)


def test_incremental_equals_scratch_end_to_end(spark, sf_dir, tmp_path):
    out = run_incremental_ivfpq(spark, sf_dir, str(tmp_path))
    rows = out.collect()
    assert rows, "no queries produced"
    assert all(r["incr_eq_scratch"] for r in rows)
    assert all(r["n_topk"] >= 1 for r in rows)

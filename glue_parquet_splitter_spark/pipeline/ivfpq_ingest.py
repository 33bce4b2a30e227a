"""IVFPQ incremental ingest (VERDICT r12 #3) — the production
index-refresh pattern, landed as the :mod:`.tokenize` /:mod:`.funnel`
materialized-stage shape.

``ivfpq_topk`` builds its index from scratch on every run; a real
serving system trains ONCE and then appends: new vector batches are
encoded against the FROZEN coarse centroids + PQ codebooks and
appended to the inverted lists (FAISS's ``add()``-after-``train()``
contract; ``topk_incremental_merge`` is the serving-side analogue of
this, ``dedup_incremental_index`` the dedup one).  This module
composes the reusable IVFPQ stages from :mod:`..operators.similarity`
into that refresh loop:

- ``ivf_cents`` / ``ivf_book`` — the frozen model, built from the
  BASE corpus only (vec_id < ``BASE_SPLIT``) and written once.
- ``ivf_codes_base`` — the base corpus PQ-encoded against that model,
  written once.  A delta batch NEVER re-encodes these rows: the
  serving plan reads this table (plan-pinned in
  tests/test_ivfpq_incremental.py).

:func:`ivfpq_incremental_search` then encodes ONLY the delta batch
(vec_id >= ``BASE_SPLIT``) against the frozen model, unions it with
the stored base codes, and ADC-searches base∪delta.  Because coarse
assignment and PQ encoding are per-vector independent given the
frozen model (see ``ivfpq_assign`` / ``ivfpq_encode``), the
incremental index is BIT-IDENTICAL to encoding base∪delta from
scratch against the same model — the certification the registered
query ``ivfpq_incremental_ingest`` grades per query via
``incr_eq_scratch``.

Scale: the base tables are written once per model generation (at
100 TB, a cid-partitioned layout so each delta append and each probe
touches one list's files); each refresh reads ONLY the delta batch
plus the metadata-sized model (n_coarse centroids + m·nc codebook
rows, both broadcast); nothing about the refresh cost grows with the
base corpus size.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as S
from ..staging import run_concurrently, stage_table

STAGE_TABLES = ("ivf_cents", "ivf_book", "ivf_codes_base")
BASE_SPLIT = 400    # vec_id < 400 = base corpus; >= 400 = delta batch
N_COARSE, M, DSUB, NC, STRIDE = 4, 4, 16, 8, 5


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    e = S.finite_vectors(load_table(spark, sf_dir, "embeddings"))
    return e.select("vec_id",
                    F.col("embedding").cast("array<double>").alias("v"))


def materialize_ivfpq_base(spark: SparkSession, sf_dir: str,
                           out_dir: str) -> dict[str, str]:
    """Train-and-encode the BASE generation: frozen model (centroids +
    codebook) and base codes, each a restartable parquet write.

    The model is derived from base rows only (centroid ids
    0..N_COARSE-1 and the codebook sample ids STRIDE..NC·STRIDE all
    sit below BASE_SPLIT), so a later delta batch cannot perturb it —
    the freeze is structural, and the pytest pins it bit-identically.
    """
    base = _vecs(spark, sf_dir).filter(F.col("vec_id") < BASE_SPLIT)
    cents, book = S.ivfpq_build(base, n_coarse=N_COARSE, m=M, dsub=DSUB,
                                nc=NC, stride=STRIDE)
    paths = {t: f"{out_dir}/{t}.parquet" for t in STAGE_TABLES}
    # the two model writes are independent jobs (book's plan embeds
    # cents' lineage but reads nothing cents WRITES); running them as
    # concurrent arms back-fills each tiny job's tail (guide §2.6).
    # codes_base still waits on both read-backs below.
    run_concurrently(spark, {
        f"ivfpq stage: {t}": partial(df.write.mode("overwrite").parquet,
                                     paths[t])
        for t, df in (("ivf_cents", cents), ("ivf_book", book))})
    cents_t = spark.read.parquet(paths["ivf_cents"])
    book_t = spark.read.parquet(paths["ivf_book"])
    codes_base = S.ivfpq_encode(
        S.ivfpq_assign(base.filter(F.col("vec_id") >= N_COARSE), cents_t),
        book_t, m=M, dsub=DSUB)
    codes_base.write.mode("overwrite").parquet(paths["ivf_codes_base"])
    return paths


def ivfpq_incremental_search(spark: SparkSession, sf_dir: str,
                             stages_dir: str, k: int = 10) -> DataFrame:
    """The refresh + serve path: encode ONLY the delta batch against
    the frozen model tables, append to the stored base codes, and
    ADC-search base∪delta.  No base-corpus row is re-read or
    re-encoded — the base enters the plan exclusively through the
    ``ivf_codes_base`` parquet scan."""
    cents_t = spark.read.parquet(f"{stages_dir}/ivf_cents.parquet")
    book_t = spark.read.parquet(f"{stages_dir}/ivf_book.parquet")
    codes_base = spark.read.parquet(f"{stages_dir}/ivf_codes_base.parquet")
    vecs = _vecs(spark, sf_dir)
    delta = vecs.filter(F.col("vec_id") >= BASE_SPLIT)
    codes_delta = S.ivfpq_encode(S.ivfpq_assign(delta, cents_t),
                                 book_t, m=M, dsub=DSUB)
    codes = codes_base.unionByName(codes_delta)
    queries = (S.ivfpq_assign(
        vecs.filter((F.col("vec_id") >= N_COARSE)
                    & (F.col("vec_id") < N_COARSE + 8)), cents_t)
        .select(F.col("vec_id").alias("query_id"),
                F.col("cid").alias("qcid"), F.col("r").alias("qr")))
    return S.ivfpq_adc_search(codes, queries, book_t, dsub=DSUB, k=k)


def ivfpq_scratch_search(spark: SparkSession, sf_dir: str,
                         k: int = 10) -> DataFrame:
    """The certification arm: one-shot encode of base∪delta against
    the SAME model recipe (built from base rows, which the full
    corpus contains).  Exists only to grade ``incr_eq_scratch`` —
    the serving path is :func:`ivfpq_incremental_search`."""
    # the certification arm re-reads base∪delta BY DESIGN (it exists
    # to prove the incremental index equals a from-scratch build);
    # vecs feeds model build, full-corpus encode and the query slice,
    # so the lineage cut computes the well-formedness contract once
    # (guide §3.3).  The SERVING path (ivfpq_incremental_search) keeps
    # raw scans — its plan pin requires pushed vec_id bounds so the
    # base corpus is never re-read there.
    vecs = stage_table(_vecs(spark, sf_dir), label="ivfpq_vecs")
    base = vecs.filter(F.col("vec_id") < BASE_SPLIT)
    cents, book = S.ivfpq_build(base, n_coarse=N_COARSE, m=M, dsub=DSUB,
                                nc=NC, stride=STRIDE)
    codes = S.ivfpq_encode(
        S.ivfpq_assign(vecs.filter(F.col("vec_id") >= N_COARSE), cents),
        book, m=M, dsub=DSUB)
    queries = (S.ivfpq_assign(
        vecs.filter((F.col("vec_id") >= N_COARSE)
                    & (F.col("vec_id") < N_COARSE + 8)), cents)
        .select(F.col("vec_id").alias("query_id"),
                F.col("cid").alias("qcid"), F.col("r").alias("qr")))
    return S.ivfpq_adc_search(codes, queries, book, dsub=DSUB, k=k)


_DEFAULT_STAGES_DIR: str | None = None


def _default_stages_dir() -> str:
    """Per-process singleton stage dir (the :mod:`.tokenize` pattern):
    default-path runs overwrite the same tables and atexit removes
    the dir."""
    global _DEFAULT_STAGES_DIR
    if _DEFAULT_STAGES_DIR is None:
        import atexit
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="ivfpq_stages_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _DEFAULT_STAGES_DIR = d
    return _DEFAULT_STAGES_DIR


def run_incremental_ivfpq(spark: SparkSession, sf_dir: str,
                          out_dir: str | None = None,
                          k: int = 10) -> DataFrame:
    """materialize base → incremental search → certify vs scratch.

    Per query: the incremental top-1, candidate count, and
    ``incr_eq_scratch`` — TRUE iff every (rank, neighbor, est_d2) of
    the incremental top-k equals the from-scratch index's.  Exactness
    (not recall) is the right grade here: append-only ingest against
    a frozen model is algebraically lossless, so anything < 100 %
    equality is a bug, never a tuning knob."""
    out_dir = out_dir or _default_stages_dir()
    # The certification (scratch) arm reads nothing the base
    # materialization writes — it re-derives the model from raw vectors
    # BY DESIGN — so the two run as concurrent arms, and the scratch
    # arm lands as an eagerly staged |queries|·k row table (guide §2.6;
    # the r16 fertility-matrix pattern).  The incremental arm still
    # waits on the stage writes it reads.
    def scratch_arm() -> DataFrame:
        arm = (ivfpq_scratch_search(spark, sf_dir, k=k)
               .select(F.col("query_id").alias("s_qid"),
                       F.col("rank").alias("s_rank"),
                       F.col("neighbor_id").alias("s_neighbor"),
                       F.col("est_d2").alias("s_d2")))
        return stage_table(arm, label="ivfpq_scratch_topk", eager=True)

    scr = run_concurrently(spark, {
        "ivfpq certification arm": scratch_arm,
        "ivfpq base stages":
            partial(materialize_ivfpq_base, spark, sf_dir, out_dir),
    })["ivfpq certification arm"]
    incr = ivfpq_incremental_search(spark, sf_dir, out_dir, k=k)
    j = incr.join(scr, (incr["query_id"] == scr["s_qid"])
                  & (incr["rank"] == scr["s_rank"]), "full")
    per_q = j.groupBy(F.coalesce("query_id", "s_qid").alias("query_id")).agg(
        F.min(F.when(F.col("rank") == 1, F.col("neighbor_id")))
        .alias("top1_id"),
        F.sum(F.when(F.col("rank").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_topk"),
        F.min((F.col("neighbor_id").eqNullSafe(F.col("s_neighbor"))
               & F.col("est_d2").eqNullSafe(F.col("s_d2"))))
        .alias("incr_eq_scratch"))
    return per_q.select("query_id", "top1_id", "n_topk", "incr_eq_scratch")

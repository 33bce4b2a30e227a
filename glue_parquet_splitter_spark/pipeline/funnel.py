"""Materialized curation funnel — the PRODUCTION form of
``curation_funnel_v3`` (VERDICT r10 #4).

``curation_funnel_v3`` composes four gates (dedup → LM perplexity →
classifier → per-source percentile) as one lazy plan; its docstring
documents that at 100 TB each signal must be CHECKPOINTED to a table
between stages, because the lazy form re-scans the corpus once per
signal branch (~36 pruned scans at fixture scale).  This module is
that prose made code:

- :func:`materialize_funnel_signals` runs each signal ONCE and writes
  it as a parquet stage table (the checkpoint a production pipeline
  would land between jobs):

  * ``sig_dedup``   — doc_ids dropped by winnowing span-dedup
  * ``sig_nll``     — per-doc bigram-LM avg NLL + bigram count
  * ``sig_clf``     — per-doc hash-n-gram classifier verdict
  * ``sig_pct``     — per-doc within-source quality percentile

- :func:`funnel_audit` rebuilds the v3 audit table purely from those
  tables: the plan is FOUR parquet scans + doc_id-keyed joins + one
  rollup — no winnowing windows, no vocab aggregation, no re-scoring
  (plan-pinned in tests/test_funnel_pipeline.py).

Every signal keeps its source query's determinism contract, so the
audit grades against the SAME DuckDB oracle as ``curation_funnel_v3``.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SIGNAL_TABLES = ("sig_dedup", "sig_nll", "sig_clf", "sig_pct")


def materialize_funnel_signals(spark: SparkSession, sf_dir: str,
                               out_dir: str) -> dict[str, str]:
    """Compute each funnel signal once and land it as a parquet stage
    table under ``out_dir``; returns {table_name: path}.

    At 100 TB each write is a separate job (restartable, auditable,
    reusable by other consumers — the classifier scores feed the
    threshold sweep, the percentiles feed the mix manifest); the
    signal plans are exactly the audited single-computation shapes of
    their source queries."""
    from ..catalog import load_table
    from ..operators.text import unique_documents
    from ..queries.curation5_q import winnowing_fingerprints
    from ..queries.curation6_q import _clf_scores
    from ..queries.quality_q import doc_avg_nll, score_percentile_by_source
    from ..staging import run_concurrently, stage_table

    # ONE identity-dedup pass shared by all four signal jobs (r16, the
    # funnel-v3 recipe): staged EAGERLY before the arms so the four
    # arm threads consume pinned blocks instead of racing to
    # materialize a lazy checkpoint.  Each signal job stays a separate
    # restartable write; the shared stage is just their common input
    # (on a cluster, a reliable checkpoint — staging.py).
    docs = stage_table(
        unique_documents(load_table(spark, sf_dir, "documents")),
        label="unique_docs", eager=True)
    signals: dict[str, DataFrame] = {
        "sig_dedup": (winnowing_fingerprints(spark, sf_dir, docs=docs)
                      .select(F.col("doc_b").alias("doc_id")).distinct()),
        "sig_nll": doc_avg_nll(spark, sf_dir, docs=docs)
        .select("doc_id", "avg_nll", "n_bigrams"),
        "sig_clf": (_clf_scores(spark, sf_dir, docs=docs)
                    .select("doc_id", "pred_en")),
        "sig_pct": score_percentile_by_source(spark, sf_dir, docs=docs)
        .select("doc_id", "source", "pct"),
    }
    # The four signal jobs are INDEPENDENT (each reads the corpus,
    # none reads another's output), so they run as concurrent arms
    # instead of sequentially.  Same four writes, same outputs — only
    # the job submission overlaps; r15 measured 12.6 s -> 10.6 s at
    # sf0.1/local[32] for the overlap alone (the classifier lineage
    # cut landed alongside takes the full query to ~5.3 s).
    paths = {name: f"{out_dir}/{name}.parquet" for name in signals}
    run_concurrently(spark, {
        f"funnel signal: {name}":
            partial(df.write.mode("overwrite").parquet, paths[name])
        for name, df in signals.items()})
    return paths


def funnel_audit(spark: SparkSession, signals_dir: str) -> DataFrame:
    """The v3 audit table computed FROM the materialized stage tables:
    four parquet scans, doc_id-keyed left joins, a 1-row p95 threshold
    aggregate off the NLL table, one partial-aggregable rollup.  Same
    output contract (and DuckDB oracle) as ``curation_funnel_v3``."""
    dup = (spark.read.parquet(f"{signals_dir}/sig_dedup.parquet")
           .withColumn("_dup", F.lit(1)))
    nll = spark.read.parquet(f"{signals_dir}/sig_nll.parquet")
    clf = spark.read.parquet(f"{signals_dir}/sig_clf.parquet")
    pct = spark.read.parquet(f"{signals_dir}/sig_pct.parquet")
    p95 = (nll.filter(F.col("n_bigrams") >= 5)
           .agg(F.percentile("avg_nll", 0.95).alias("p")))
    funnel = (pct
              .join(dup, "doc_id", "left")
              .join(nll, "doc_id", "left")
              .join(clf, "doc_id", "left")
              .crossJoin(F.broadcast(p95))  # bounded: 1-row threshold
              .select("source", "pct",
                      F.col("_dup").isNull().alias("pass_dedup"),
                      (F.col("n_bigrams").isNull()
                       | (F.col("n_bigrams") < 5)
                       | (F.col("avg_nll") <= F.col("p")))
                      .alias("pass_ppl"),
                      F.coalesce(F.col("pred_en"), F.lit(False))
                      .alias("pass_clf")))
    return funnel.groupBy("source").agg(
        F.count("*").alias("n_raw"),
        F.count_if(F.col("pass_dedup")).alias("n_after_dedup"),
        F.count_if(F.col("pass_dedup") & F.col("pass_ppl"))
         .alias("n_after_ppl"),
        F.count_if(F.col("pass_dedup") & F.col("pass_ppl")
                   & F.col("pass_clf")).alias("n_after_clf"),
        F.count_if(F.col("pass_dedup") & F.col("pass_ppl")
                   & F.col("pass_clf") & (F.col("pct") >= 0.4))
         .alias("n_after_quality"))


_DEFAULT_SIGNALS_DIR: str | None = None


def _default_signals_dir() -> str:
    """Per-process singleton stage dir for the default path (ADVICE
    r11): the audit DataFrame is LAZY over the stage tables, so the
    dir cannot be removed before the caller collects — instead every
    default-path call overwrites the SAME four tables (no /tmp growth
    across bench/fuzz repetitions) and atexit removes the dir when the
    process ends.  Concurrent default-path audits in one process would
    race on overwrite; production passes an explicit ``out_dir``."""
    global _DEFAULT_SIGNALS_DIR
    if _DEFAULT_SIGNALS_DIR is None:
        import atexit
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="funnel_signals_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _DEFAULT_SIGNALS_DIR = d
    return _DEFAULT_SIGNALS_DIR


def run_materialized_funnel(spark: SparkSession, sf_dir: str,
                            out_dir: str | None = None) -> DataFrame:
    """materialize → audit, end to end.  ``out_dir`` defaults to a
    per-process temp dir, overwritten each call and removed at exit
    (tests/registered query); production passes a durable warehouse
    path and re-runs only the stages whose inputs changed."""
    out_dir = out_dir or _default_signals_dir()
    materialize_funnel_signals(spark, sf_dir, out_dir)
    return funnel_audit(spark, out_dir)

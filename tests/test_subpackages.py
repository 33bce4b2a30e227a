"""Smoke tests for the sources/functions/plans subpackage fronts."""

from pyspark.sql import functions as F

from glue_parquet_splitter_spark import functions as EF
from glue_parquet_splitter_spark import plans as P
from glue_parquet_splitter_spark import sources as S


def test_sources(spark, sf_dir, sample_data):
    li = S.load_table(spark, sf_dir, "lineitem")
    assert li.count() > 0
    b = S.read_binary_dir(spark, f"{sample_data}/input", "*.parquet")
    assert b.count() == 3


def test_functions(spark, sf_dir):
    e = S.load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    row = e.select(EF.l2_norm(v).alias("n"), EF.dot(v, v).alias("d")).first()
    assert abs(row.n * row.n - row.d) < 1e-6

    li = S.load_table(spark, sf_dir, "lineitem")
    frac = (li.filter(EF.content_sample_pred(["l_orderkey", "l_linenumber"])).count()
            / li.count())
    assert 0.05 < frac < 0.15  # ~10% deterministic sample


def test_plans(spark, sf_dir):
    c = S.load_table(spark, sf_dir, "customer")
    n = S.load_table(spark, sf_dir, "nation")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    assert P.uses_broadcast_join(j)
    f = S.load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 10).select("l_orderkey")
    assert "l_quantity" in P.pushed_filters(f)
    final = P.final_plan(j)
    assert "WholeStageCodegen" in final or "*(" in final

"""stage_table (staging.py): the cluster-safe lineage cut (VERDICT r15
#1).  Local masters must keep the r15 ``localCheckpoint`` behavior
bit-for-bit; cluster masters must take a reliable checkpoint when Spark
has a checkpoint dir, and fall back to uncut lineage — or
``localCheckpoint`` for ``must_cut`` iterative callers — when it has
none.  tests/test_local_cluster.py runs the same modes on a
multi-process master."""

import pytest
from pyspark.sql import functions as F

from glue_parquet_splitter_spark import staging
from glue_parquet_splitter_spark.staging import _stage_mode, stage_table


# ---- decision kernel (pure, no cluster needed) -------------------------

@pytest.mark.parametrize("master,ckdir,expected", [
    ("local[32]", None, "local"),
    ("local[*]", "/ck", "local"),                # local wins outright
    (None, None, "uncut"),                       # unknown master: cluster
    ("spark://host:7077", "/ck", "reliable"),
    ("yarn", "/ck", "reliable"),
    ("k8s://https://host", None, "uncut"),
    ("spark://host:7077", "", "uncut"),          # empty dir = unset
    ("local-cluster[2,1,1024]", "/ck", "reliable"),  # separate executor JVMs
])
def test_stage_mode_decision(master, ckdir, expected):
    assert _stage_mode(master, ckdir) == expected


# ---- local behavior: same rows, lineage actually cut -------------------

def test_local_stage_is_localcheckpoint(spark):
    df = spark.range(100).withColumn("k", F.col("id") % 7)
    staged = stage_table(df, label="t")
    # same rows
    assert sorted(r["id"] for r in staged.collect()) == list(range(100))
    # lineage cut: once materialized, the plan reads pinned blocks
    # (ExistingRDD), not the range source
    plan = staged._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan


# ---- cluster modes, forced through the kernel -----------------------

def test_reliable_checkpoint_mode(spark, tmp_path, monkeypatch):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ck"))
    monkeypatch.setattr(staging, "_stage_mode", lambda *a: "reliable")
    df = spark.range(20)
    staged = stage_table(df, label="rel")
    assert sorted(r["id"] for r in staged.collect()) == list(range(20))


def test_uncut_fallback_and_must_cut(spark, monkeypatch, capsys):
    monkeypatch.setattr(staging, "_stage_mode", lambda *a: "uncut")
    monkeypatch.setattr(staging, "_WARNED", False)
    df = spark.range(10)
    # plain reuse site: returned unchanged (lineage intact), warns once
    assert stage_table(df, label="u") is df
    assert stage_table(df, label="u") is df
    err = capsys.readouterr().err
    assert err.count("leaving lineage uncut") == 1  # single warning
    # iterative site: must still cut (plan growth otherwise unbounded)
    cut = stage_table(df, label="loop", must_cut=True)
    assert cut is not df
    assert sorted(r["id"] for r in cut.collect()) == list(range(10))


# ---- session conf scoping (ADVICE r15: planner SHJ is local-only) ------

def test_planner_shj_conf_scoped_to_local(monkeypatch):
    from glue_parquet_splitter_spark.session import (_RUNTIME_CONFS,
                                                     _join_confs)

    # the estimate-based static flip never rides _RUNTIME_CONFS onto a
    # cluster session; the AQE measured-size rewrite does
    assert "spark.sql.join.preferSortMergeJoin" not in _RUNTIME_CONFS
    assert _RUNTIME_CONFS[
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"] == "64m"
    assert _RUNTIME_CONFS["spark.sql.ansi.enabled"] == "true"
    monkeypatch.delenv("SPARK_GRAFT_PLANNER_SHJ", raising=False)
    assert _join_confs("local[32]") == {
        "spark.sql.join.preferSortMergeJoin": "false"}
    assert _join_confs("yarn") == {}
    assert _join_confs("spark://h:7077") == {}
    assert _join_confs(None) == {}
    assert _join_confs("local-cluster[2,1,1024]") == {}
    # explicit cluster opt-in / local opt-out
    monkeypatch.setenv("SPARK_GRAFT_PLANNER_SHJ", "1")
    assert _join_confs("yarn") == {
        "spark.sql.join.preferSortMergeJoin": "false"}
    monkeypatch.setenv("SPARK_GRAFT_PLANNER_SHJ", "0")
    assert _join_confs("local[8]") == {
        "spark.sql.join.preferSortMergeJoin": "true"}


def test_local_session_still_prefers_shj(spark):
    # the live test session (local[8]) must carry the local-scoped flip
    assert spark.conf.get("spark.sql.join.preferSortMergeJoin") == "false"
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"

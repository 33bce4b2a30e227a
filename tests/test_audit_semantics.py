"""Cross-query consistency of the round-10 audit family: each audit
must agree with the operator it audits — properties no single-query
oracle can check.
"""

import os

from pyspark.sql import functions as F

from glue_parquet_splitter_spark.queries import load_all_modules

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REG = load_all_modules()


def test_band_tuning_candidates_are_nested(spark, sf_dir):
    """A pair matching at rows-per-band r necessarily matches at any
    smaller r (its bands are refinements), so candidate counts must be
    monotone: 8x1 >= 4x2 >= 2x4 >= 1x8."""
    rows = {r["rows_per_band"]: r["n_candidates"]
            for r in REG["lsh_band_tuning_audit"].fn(spark, sf_dir)
            .collect()}
    assert rows[1] >= rows[2] >= rows[4] >= rows[8]
    # and the 4x2 arm IS the production banding: equals the registry's
    # candidate query row count
    n_prod = REG["minhash_lsh_candidates"].fn(spark, sf_dir).count()
    assert rows[2] == n_prod


def test_leaderboard_agrees_with_funnel(spark, sf_dir):
    """source_quality_leaderboard and curation_funnel_v2 share signal
    CTEs; their per-source numbers must reconcile exactly:
    n_docs == n_raw and dup_rate * n_docs == n_raw - n_after_dedup."""
    lead = {r["source"]: r for r in
            REG["source_quality_leaderboard"].fn(spark, sf_dir).collect()}
    fun = {r["source"]: r for r in
           REG["curation_funnel_v2"].fn(spark, sf_dir).collect()}
    assert set(lead) == set(fun)
    for s in lead:
        assert lead[s]["n_docs"] == fun[s]["n_raw"]
        n_dup = fun[s]["n_raw"] - fun[s]["n_after_dedup"]
        assert round(lead[s]["dup_rate"] * lead[s]["n_docs"]) == n_dup


def test_mix_manifest_respects_quotas(spark, sf_dir):
    """training_mix_manifest ships exactly min(quota, n_docs) docs per
    source, where quota is shard_quota_largest_remainder's number with
    B scaled identically."""
    quota = {r["source"]: r for r in
             REG["shard_quota_largest_remainder"].fn(spark, sf_dir)
             .collect()}
    manifest = (REG["training_mix_manifest"].fn(spark, sf_dir)
                .groupBy("source").agg(F.count("*").alias("n"))
                .collect())
    got = {r["source"]: r["n"] for r in manifest}
    for s, q in quota.items():
        assert got.get(s, 0) == min(q["quota"], q["n_docs"]), s


def test_skew_audit_implied_pairs_bound_actual(spark, sf_dir):
    """The skew audit's implied pair total (sum over buckets of
    c*(c-1)/2, summed across bands) upper-bounds the DISTINCT
    candidate count (bands can rediscover the same pair)."""
    implied = sum(r["implied_pairs"] for r in
                  REG["lsh_bucket_skew_audit"].fn(spark, sf_dir)
                  .collect())
    actual = REG["minhash_lsh_candidates"].fn(spark, sf_dir).count()
    assert implied >= actual


def test_pk_uniqueness_audit_plan_and_planted_counts(spark, sf_dir,
                                                     tmp_path):
    """pk_uniqueness_audit (VERDICT r13 #2): the plan is ONE pk-keyed
    aggregate per table — no join, no window — and under the --dupkeys
    injection its counts are exactly the planted dup mass: ~4 % of
    base rows per table (min 2), half identical / half conflicting,
    n_excess_rows == appended rows."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import pyarrow.parquet as pq
    from fuzz_oracle import _DUPKEY_SPECS, gen_fixtures

    df = REG["pk_uniqueness_audit"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Window" not in plan
    # clean driver fixtures: zero dup mass on every SINGLE-column pk.
    # lineitem is the detector's first real catch: the fixture
    # generator re-draws order keys across runs, so l_linenumber
    # restarts and (l_orderkey, l_linenumber) pairs REPEAT with
    # different attributes — real, conflicting dup mass in the
    # "clean" fixtures, faithfully reported (not asserted zero).
    clean = {r.table_name: r.asDict() for r in df.collect()}
    assert len(clean) == 10
    for t, r in clean.items():
        assert r["n_rows"] > 0, t
        assert r["n_excess_rows"] == r["n_rows"] - r["n_keys"], t
        if t != "lineitem":
            assert r["n_dup_keys"] == 0 and r["n_excess_rows"] == 0, t
    assert clean["lineitem"]["n_dup_conflicting"] > 0
    # --dupkeys fixtures: audit deltas match the injector's planted
    # mass exactly (every appended row repeats an EXISTING pk, so
    # n_keys is unchanged and each appended row is one excess row)
    base = tmp_path / "base"
    dup = tmp_path / "dup"
    base.mkdir(), dup.mkdir()
    gen_fixtures(str(base), seed=0)
    gen_fixtures(str(dup), seed=0, dupkeys=True)
    a_base = {r.table_name: r.asDict()
              for r in REG["pk_uniqueness_audit"].fn(spark, str(base))
              .collect()}
    a_dup = {r.table_name: r.asDict()
             for r in REG["pk_uniqueness_audit"].fn(spark, str(dup))
             .collect()}
    for t, spec in _DUPKEY_SPECS.items():
        n_base = pq.read_metadata(f"{base}/{t}.parquet").num_rows
        n_dup = pq.read_metadata(f"{dup}/{t}.parquet").num_rows
        planted = n_dup - n_base
        b, d = a_base[t], a_dup[t]
        assert planted >= 2 and d["n_rows"] == n_dup, t
        assert d["n_keys"] == b["n_keys"], t
        assert d["n_excess_rows"] - b["n_excess_rows"] == planted, t
        if len(spec["pk"]) == 1:
            # single-pk tables start dup-free: the planted mass IS the
            # audit's dup mass, split by the injector's j%2 rule
            # (ceil(half) identical, floor(half) conflicting — every
            # seed-0 conflict mutation genuinely mutates)
            assert b["n_dup_keys"] == 0, t
            assert d["n_dup_keys"] == planted, t
            assert d["n_dup_identical"] == (planted + 1) // 2, t
            assert d["n_dup_conflicting"] == planted // 2, t

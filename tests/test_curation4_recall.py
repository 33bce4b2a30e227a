"""Recall/soundness properties of the round-8 dedup/ER mitigations.

- Capped SemDeDup trades recall for bounded work: per cluster it must
  keep the member count, never drop MORE than the uncapped prune, and
  still catch a non-vacuous share of the planted near-duplicates.
- Multi-pass blocking ER exists to catch records whose FIRST block key
  is itself dirty: every brand-perturbed dirty record must be found,
  and found only by the second pass (its pass-1 block value does not
  exist in the catalog at all).
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from glue_parquet_splitter_spark.catalog import load_table  # noqa: E402
from glue_parquet_splitter_spark.queries import load_all_modules  # noqa: E402

REG = load_all_modules()


def test_semdedup_capped_is_sound_subset_of_uncapped(spark, sf_dir):
    unc = {r.cid: r for r in
           REG["semdedup_cluster_prune"].fn(spark, sf_dir).collect()}
    cap = {r.cid: r for r in
           REG["semdedup_capped_cluster_prune"].fn(spark, sf_dir).collect()}
    assert set(cap) == set(unc)
    for cid in unc:
        # same membership; the cap only changes which pairs are compared
        assert cap[cid].n_members == unc[cid].n_members
        # a sub-cluster pair is also a cluster pair -> capped drops are
        # a subset of uncapped drops, per cluster
        assert cap[cid].n_dropped <= unc[cid].n_dropped
        assert cap[cid].n_kept >= unc[cid].n_kept
        assert cap[cid].max_subcluster_size <= cap[cid].n_members
    # non-vacuous: the planted near-duplicates that happen to share a
    # sub-cluster with their source are still pruned
    assert sum(r.n_dropped for r in cap.values()) > 0
    # and the cap really engaged somewhere (some cluster was split)
    assert any(r.n_subclusters > 1 for r in cap.values())


def test_er_multipass_catches_cross_block_perturbation(spark, sf_dir):
    rows = REG["entity_resolution_multipass_block"].fn(spark, sf_dir).collect()
    pert = [r for r in rows if r.brand_perturbed]
    assert pert, "planted brand-perturbed dirty records must exist"
    # pass 1 blocks on (brand, type); the perturbed brand 'Brand#00'
    # does not exist in the catalog, so pass 1's block for those
    # records is EMPTY — every one of them must be found by pass 2
    assert all(r.found_by == "size_prefix" for r in pert)
    p = load_table(spark, sf_dir, "part")
    assert p.where(F.col("p_brand") == "Brand#00").limit(1).count() == 0
    # the perturbation corrupts the block key, not the record identity:
    # a majority of perturbed records still match their true source
    # (name ambiguity, not blocking, decides the rest)
    n_src = sum(1 for r in pert if r.matched_source)
    assert n_src * 2 > len(pert)
    # every dirty record (perturbed or not) found SOME match: the
    # union of passes never has lower recall than either pass alone
    n_dirty = p.where(F.col("p_partkey") % 16 == 0).count()
    assert len(rows) == n_dirty


def test_semdedup_two_salt_recall_lattice(spark, sf_dir):
    """The three prune variants must form a lattice per cluster:
    salt-1 drops == the single-pass capped query's drops exactly (same
    salt, same cap), the two-salt union only ever adds, and the union
    can never exceed the uncapped (all-within-cluster-pairs) drops."""
    unc = {r.cid: r for r in
           REG["semdedup_cluster_prune"].fn(spark, sf_dir).collect()}
    cap = {r.cid: r for r in
           REG["semdedup_capped_cluster_prune"].fn(spark, sf_dir).collect()}
    two = {r.cid: r for r in
           REG["semdedup_capped_two_salt"].fn(spark, sf_dir).collect()}
    assert set(two) == set(cap) == set(unc)
    for cid in two:
        assert two[cid].n_members == cap[cid].n_members
        assert two[cid].n_dropped_salt1 == cap[cid].n_dropped
        assert (two[cid].n_dropped_salt1 <= two[cid].n_dropped_union
                <= unc[cid].n_dropped)
        assert (two[cid].n_recovered
                == two[cid].n_dropped_union - two[cid].n_dropped_salt1)
        assert two[cid].n_kept == two[cid].n_members - two[cid].n_dropped_union


def test_hex_hash_expr_cross_engine_parity(spark):
    """hex_hash_expr's whole contract is that the IDENTICAL SQL text
    yields identical integers on Spark and DuckDB — verify over 1000
    ids for both salt offsets (a divergence here would silently
    shuffle members into different sub-clusters on the two engines
    and break every capped-SemDeDup oracle)."""
    import duckdb

    from glue_parquet_splitter_spark.queries.curation4_q import hex_hash_expr

    for offset in (0, 4):
        expr = hex_hash_expr("id", offset=offset)
        got_spark = [r.h for r in spark.range(1000)
                     .selectExpr(f"{expr} AS h").orderBy("id").collect()]
        got_duck = [r[0] for r in duckdb.connect().execute(
            f"SELECT {expr} AS h FROM range(1000) t(id) ORDER BY id"
        ).fetchall()]
        assert got_spark == got_duck
        # and the hash actually spreads: ~1000 ids over 65536 values
        assert len(set(got_spark)) > 900
        assert 0 <= min(got_spark) and max(got_spark) < 16 ** 4

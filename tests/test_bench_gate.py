"""The bench harness's work gate: tasks and shuffle bytes are fixed by
the plan and executor CPU holds within 1.9x run to run, so the
gate must trip on planted plan and CPU regressions and stay quiet on
busy-host readings, sub-floor shuffles and missing counters.

Readings come from sf0.1 runs on a 4-core host (local[4], one warm rep
then min-of-3 timed reps)."""

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spec = importlib.util.spec_from_file_location("bench", os.path.join(REPO, "bench.py"))
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)


def _rec(tasks, shuffle, cpu, wall=1.0):
    return {"tasks": tasks, "shuffle_write_bytes": shuffle,
            "executor_cpu_s": cpu, "wall_s": wall}


PLANTS = [
    # autoBroadcastJoinThreshold=-1: sort-merge joins everywhere
    ("q5_region_revenue", _rec(15, 918, 0.44), _rec(31, 34_300_000, 1.74),
     {"tasks", "shuffle_write_bytes", "executor_cpu_s"}),
    # .repartition(64) before the sink: the shuffle stays under the
    # 4 kB floor, so only the task count catches it
    ("q5_region_revenue", _rec(15, 918, 0.417), _rec(79, 2_938, 0.505),
     {"tasks"}),
    # a 20-deep sha2 chain on one column: same plan, 3.9x the CPU
    ("window_running_sum", _rec(4, 3_348_059, 0.38),
     _rec(4, 3_348_059, 1.47),
     {"executor_cpu_s"}),
    # a 10x CPU rise on an entry under the 0.3 s floor still trips:
    # the floor bounds the baseline side only
    ("hybrid_rrf_fusion", _rec(18, 41_000, 0.1), _rec(18, 41_000, 1.0),
     {"executor_cpu_s"}),
]


def test_planted_regression_trips():
    for entry, base, planted, tripped in PLANTS:
        regs = bench.work_regressions({entry: base}, {entry: planted})
        assert set(regs[entry]) == tripped, (entry, planted)


def test_shrink_also_trips():
    # a big shrink is ALSO a plan change worth flagging (e.g. a query
    # silently returning fewer rows) — the count gate is two-sided;
    # the CPU gate is not (a JVM-cold baseline reads high)
    regs = bench.work_regressions({"q": _rec(40, 100_000, 2.0)},
                                  {"q": _rec(20, 50_000, 0.5)})
    assert regs == {"q": {"tasks": 0.5, "shuffle_write_bytes": 0.5}}


# quiet readings; a probe over 8 entries measured busy/quiet ratios of
# 0.82-1.16x for min-of-3 CPU and 1.12-2.20x for wall, with identical
# tasks and shuffle bytes, and the busy readings apply those ratios.
QUIET = {
    "q1_pricing_summary": _rec(5, 774, 0.177, 0.625),
    "q5_region_revenue": _rec(15, 918, 0.417, 1.384),
    "agg_count_distinct": _rec(6, 523_169, 0.443, 0.648),
    "window_running_sum": _rec(4, 3_348_059, 0.378, 0.518),
    "session_window_agg": _rec(4, 2_807_882, 0.367, 0.479),
    "streaming_tumbling_counts": _rec(14, 15_969, 0.184, 0.957),
    "tokenizer_fertility_matrix": _rec(95, 45_363, 4.823, 5.935),
    "split_replay_10x10k": _rec(13, 2_579_938, 0.664, 1.275),
}
BUSY_RATIOS = [(0.82, 2.20), (0.88, 1.12), (0.94, 1.95), (1.0, 1.60),
               (1.04, 2.05), (1.08, 1.31), (1.12, 1.88), (1.16, 2.20)]


# (baseline, rerun) executor-CPU seconds, same tasks and shuffle
FULL_SUITE_CPU = {
    "ivf_topk_search": (0.398, 0.752),
    "decontamination_ngram_overlap": (0.516, 0.89),
    "mips_norm_bound_topk": (0.58, 0.957),
    "asof_join": (0.779, 1.182),
    "q5_region_revenue": (0.417, 0.611),
    "session_window_dynamic_gap": (0.449, 0.638),
    "session_window_agg": (0.367, 0.516),
    "ann_topk_bruteforce": (0.275, 0.396),
}
FULL_SUITE_BASE = {n: _rec(9, 10**6, p) for n, (p, _) in FULL_SUITE_CPU.items()}
FULL_SUITE_HIGH = {n: _rec(9, 10**6, c) for n, (_, c) in FULL_SUITE_CPU.items()}


def test_quiet_on_noise_and_errors():
    for ratios in (BUSY_RATIOS, BUSY_RATIOS[::-1]):
        busy = {n: {**q, "executor_cpu_s": q["executor_cpu_s"] * c,
                    "wall_s": q["wall_s"] * w}
                for (n, q), (c, w) in zip(QUIET.items(), ratios)}
        assert bench.work_regressions(QUIET, busy) == {}
        assert bench.work_regressions(busy, QUIET) == {}
    # agg_count_distinct alternates between two shuffle sizes on a
    # quiet host (1.12x): inside the band, in either order
    alt = {"agg_count_distinct": _rec(6, 587_354, 0.443)}
    assert bench.work_regressions(QUIET, alt) == {}
    assert bench.work_regressions(alt, QUIET) == {}
    # the highest CPU readings of full-suite reruns (busy and quiet)
    # against the committed baseline
    assert bench.work_regressions(FULL_SUITE_BASE, FULL_SUITE_HIGH) == {}
    # a quiet rerun against a JVM-cold baseline reads up to 0.67x CPU;
    # sub-floor CPU and shuffle never flag; a missing counter (or a
    # new entry) is unarmed
    prev = {"cold": _rec(5, 0, 1.5), "tiny": _rec(5, 500, 0.1),
            "partial": {"tasks": 5}}
    cur = {"cold": _rec(5, 0, 1.0), "tiny": _rec(5, 3_900, 0.29),
           "partial": {"shuffle_write_bytes": 10**6, "executor_cpu_s": 9.0},
           "new": _rec(1, 10**9, 99.0)}
    assert bench.work_regressions(prev, cur) == {}


def test_reads_latest_committed_round():
    with open(os.path.join(REPO, bench.METRICS_FILE)) as f:
        doc = json.load(f)
    prev = bench.load_prev_work(REPO, doc["sf"], doc["cpus"])
    assert prev, "expected per-entry counters in the committed baseline"
    assert all(isinstance(r["tasks"], int)
               and isinstance(r["shuffle_write_bytes"], int)
               for r in prev.values())
    assert any(r["shuffle_write_bytes"] > bench.SHUFFLE_GATE_MIN_BYTES
               for r in prev.values())


def test_metrics_file_preferred_but_sf_guarded(tmp_path):
    """Counters from another scale or core count are not a baseline (a
    local sf0.01 sanity run must not poison the sf0.1 gate; task counts
    follow the core count)."""
    work = {"q": _rec(3, 7000, 0.5)}
    (tmp_path / "BENCH_METRICS.json").write_text(json.dumps(
        {"sf": 0.01, "cpus": 4, "work": work}))
    assert bench.load_prev_work(str(tmp_path), 0.01, 4) == work
    assert bench.load_prev_work(str(tmp_path), 0.1, 4) == {}
    assert bench.load_prev_work(str(tmp_path), 0.01, 32) == {}
    assert bench.load_prev_work(str(tmp_path / "nope"), 0.01, 4) == {}
    # a run at another scale or core count leaves the baseline alone;
    # one at the same scale and core count replaces it
    (tmp_path / "BENCH_METRICS.json").unlink()
    bench.write_metrics_file(str(tmp_path), {"sf": 0.1, "cpus": 4, "work": work})
    bench.write_metrics_file(str(tmp_path), {"sf": 0.01, "cpus": 4, "work": {}})
    bench.write_metrics_file(str(tmp_path), {"sf": 0.1, "cpus": 32, "work": {}})
    assert bench.load_prev_work(str(tmp_path), 0.1, 4) == work
    bench.write_metrics_file(str(tmp_path), {"sf": 0.1, "cpus": 4, "work": {}})
    assert bench.load_prev_work(str(tmp_path), 0.1, 4) == {}


def test_bench_queries_exist_in_registry():
    """A typo'd or renamed bench entry should fail here, not 40 s into
    the driver's bench run."""
    from glue_parquet_splitter_spark.queries import load_all_modules

    reg = load_all_modules()
    missing = [n for n in bench.BENCH_QUERIES if n not in reg]
    assert not missing, missing


def test_unmeasured_batch_entry_turns_red():
    """A missing counter or an empty window is a silent accounting
    failure on any entry: batch, streaming or replay."""
    doc = {"work": {"batch_q": {"tasks": 4, "executor_cpu_s": 0.2},
                    "stream_q": _rec(0, 0, 0.0),
                    "split_replay_10x10k": _rec(17, 10, 2.0)}}
    assert bench.unmeasured_entries(doc) == ["batch_q", "stream_q"]
    assert bench.unmeasured_entries({"work": {"q": _rec(1, 0, 0.0)}}) == []


def test_committed_bench_has_no_silent_metric_gaps():
    """The committed baseline measures every bench entry, streaming
    entries and the replay rows included."""
    with open(os.path.join(REPO, bench.METRICS_FILE)) as f:
        doc = json.load(f)
    replays = {f"{r}_{bench.N_REPLAY_DAYS}x10k" for r in
               ("split_replay", "split_replay_skew", "compact_replay")}
    assert set(doc["work"]) == set(bench.BENCH_QUERIES) | replays
    assert bench.unmeasured_entries(doc) == []


def test_cap_map_compacts_and_counts():
    """The in-line gate map must stay tail-capture-safe when the gate
    fires wide: the top 3 by |log ratio|, plus a count marker."""
    wide = {f"q{i}": {"tasks": 1.0 + i} for i in range(1, 6)}
    out = bench.cap_map(wide)
    assert out == {"q5": {"tasks": 6.0}, "q4": {"tasks": 5.0},
                   "q3": {"tasks": 4.0}, "_truncated_n": 5}
    assert bench.cap_map({"q": {"tasks": 0.5}}) == {"q": {"tasks": 0.5}}
    # a 2x shrink is more extreme than a 1.6x CPU rise; an entry ranks
    # by its most extreme counter
    mixed = {"shrunk": {"tasks": 0.5}, "slow": {"executor_cpu_s": 1.6},
             "mid": {"tasks": 1.3}, "both": {"tasks": 1.26,
                                             "executor_cpu_s": 3.0}}
    assert list(bench.cap_map(mixed)) == ["both", "shrunk", "slow",
                                          "_truncated_n"]


def test_stdout_line_fits_tail_capture():
    """Only the last 2000 chars of the output are kept: the line built from
    the committed baseline, with the gate firing on every counter of
    every entry, stays under 1900."""
    with open(os.path.join(REPO, bench.METRICS_FILE)) as f:
        doc = json.load(f)
    regs = {n: {"tasks": 12.345, "shuffle_write_bytes": 12345.678,
                "executor_cpu_s": 12.345} for n in doc["work"]}
    rates = {"split_replay_rows_per_sec": 999_999,
             "split_replay_skew_rows_per_sec": 999_999}
    line = bench.headline(doc["work"], doc["sf"], rates, regs)
    assert len(line) < 1900, len(line)
    parsed = json.loads(line)
    assert parsed["work_over"] == len(doc["work"])
    assert len(parsed["queries"]) == bench._LINE_TOP_QUERIES + 1
    # with no baseline at the run's scale and core count the line says
    # the gate did not run, rather than reading clean
    unarmed = json.loads(bench.headline(doc["work"], doc["sf"], rates, None))
    assert unarmed["work_over"] is None and unarmed["work_regs"] == {}

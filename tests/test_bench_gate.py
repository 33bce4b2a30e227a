"""The bench harness's shuffle-bytes regression gate (VERDICT r5 #3):
shuffle volume is plan-determined, so a ±20 % round-over-round move is
a plan change — the gate must trip on a planted regression and stay
quiet on noise-level moves and tiny shuffles."""

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spec = importlib.util.spec_from_file_location("bench", os.path.join(REPO, "bench.py"))
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)


def test_planted_regression_trips():
    prev = {"q": 100_000, "tiny": 500, "stable": 50_000}
    cur = {"q": 150_000, "tiny": 5_000, "stable": 52_000, "new": 99_999}
    regs = bench.shuffle_regressions(prev, cur)
    # q grew 1.5x -> tripped with the delta recorded
    assert regs == {"q": {"prev": 100_000, "cur": 150_000, "ratio": 1.5}}


def test_shrink_also_trips():
    # a big shrink is ALSO a plan change worth flagging (e.g. a query
    # silently returning fewer rows) — the gate is two-sided
    regs = bench.shuffle_regressions({"q": 100_000}, {"q": 50_000})
    assert regs["q"]["ratio"] == 0.5


def test_quiet_on_noise_and_errors():
    prev = {"q": 100_000, "small": 500}
    # -1 marks a best-effort metrics failure; small prev is below floor
    cur = {"q": 110_000, "small": 50_000, "failed": -1}
    assert bench.shuffle_regressions(prev, cur) == {}


def test_reads_latest_committed_round():
    name, prev = bench.load_prev_shuffle_bytes(REPO)
    # r8+: the committed BENCH_METRICS.json side file wins; older
    # checkouts recover the newest driver-written BENCH_r*.json line
    assert name is not None and (name == bench.METRICS_FILE
                                 or name.startswith("BENCH_r"))
    assert prev, "expected per-query shuffle bytes recovered from some round"
    assert all(isinstance(v, int) for v in prev.values())
    assert any(v > bench.SHUFFLE_GATE_MIN_BYTES for v in prev.values())


def test_metrics_file_preferred_but_sf_guarded(tmp_path):
    """BENCH_METRICS.json is the exact, truncation-proof source — but
    bytes from a different scale are not a baseline (a local sf0.01
    sanity run must not poison the sf0.1 gate)."""
    (tmp_path / "BENCH_METRICS.json").write_text(json.dumps(
        {"sf": 0.01, "shuffle_bytes_written": {"q": 7000}}))
    (tmp_path / "BENCH_r07.json").write_text(json.dumps(
        {"parsed": {"queries": {"q": 1.0}, "shuffle_kb": [55.0]}}))
    # matching sf (or unspecified): the file wins
    name, prev = bench.load_prev_shuffle_bytes(str(tmp_path), 0.01)
    assert name == bench.METRICS_FILE and prev == {"q": 7000}
    name, prev = bench.load_prev_shuffle_bytes(str(tmp_path))
    assert name == bench.METRICS_FILE
    # sf mismatch: fall back to the newest recoverable BENCH line
    name, prev = bench.load_prev_shuffle_bytes(str(tmp_path), 0.1)
    assert name == "BENCH_r07.json" and prev == {"q": int(55.0 * 1024)}


def test_recovers_from_parsed_null_truncated_tail():
    """VERDICT r6 #2: driver-written BENCH_r06.json has "parsed": null
    and a front-truncated tail — the shuffle block near the line's end
    must still be recovered (it disarmed the r7 gate otherwise)."""
    doc = {"parsed": None,
           "tail": ('...": 0.4}, "shuffle_bytes_written": {"q1": 10000, '
                    '"q2": 55085}, "shuffle_baseline": "BENCH_r05.json"}')}
    assert bench._shuffle_bytes_from_doc(doc) == {"q1": 10000, "q2": 55085}


def test_reads_compact_shuffle_kb_form():
    """r7+ prints shuffle bytes as a kB list aligned with the queries
    key order, so the line fits the driver's 2000-char tail capture."""
    doc = {"parsed": {"queries": {"a": 1.0, "b": 2.0, "stream_c": 3.0},
                      "shuffle_kb": [9.8, 53.8, None]}}
    got = bench._shuffle_bytes_from_doc(doc)
    assert got == {"a": int(9.8 * 1024), "b": int(53.8 * 1024)}
    # and the tail-regex path for the same form
    doc2 = {"parsed": None,
            "tail": ('"queries":{"a":1.0,"b":2.0,"c":3.0},"sf":0.1,'
                     '"shuffle_kb":[9.8,53.8,null],"loadavg":[1]}')}
    got2 = bench._shuffle_bytes_from_doc(doc2)
    assert got2 == {"a": int(9.8 * 1024), "b": int(53.8 * 1024)}


def test_falls_back_to_older_parseable_round(tmp_path):
    """A newest round with nothing recoverable must not silently yield
    {} while an older round has real bytes."""
    (tmp_path / "BENCH_r09.json").write_text(
        json.dumps({"parsed": None, "tail": "garbage no shuffle block"}))
    (tmp_path / "BENCH_r08.json").write_text(
        json.dumps({"parsed": {"shuffle_bytes_written": {"q": 123456}}}))
    name, prev = bench.load_prev_shuffle_bytes(str(tmp_path))
    assert name == "BENCH_r08.json"
    assert prev == {"q": 123456}


def test_bench_queries_exist_in_registry():
    """A typo'd or renamed bench entry should fail here, not 40 s into
    the driver's bench run."""
    from glue_parquet_splitter_spark.queries import load_all_modules

    reg = load_all_modules()
    missing = [n for n in bench.BENCH_QUERIES if n not in reg]
    assert not missing, missing


def test_wall_gate_disarmed_without_calibration():
    """Rounds before r8 carry no calibration probe — raw wall-clock on
    a shared host is not a signal (r6->r7: uniform 1.6x, zero plan
    change), so the gate must stay silent rather than cry wolf."""
    assert bench.wall_regressions({"q": 1.0}, None, {"q": 2.0}, 0.5) == {}
    assert bench.wall_regressions({"q": 1.0}, 0.5, {"q": 2.0}, None) == {}


def test_wall_gate_normalizes_out_host_speed():
    prev_t = {"q1": 1.0, "q2": 2.0, "tiny": 0.1}
    # host got uniformly 1.6x slower (calibration 0.5 -> 0.8): quiet
    cur_uniform = {"q1": 1.6, "q2": 3.2, "tiny": 0.16}
    assert bench.wall_regressions(prev_t, 0.5, cur_uniform, 0.8) == {}
    # q2 alone doubled BEYOND the host move: tripped, with the
    # normalized ratio recorded; tiny stays under the floor
    cur_real = {"q1": 1.6, "q2": 6.4, "tiny": 0.9}
    regs = bench.wall_regressions(prev_t, 0.5, cur_real, 0.8)
    assert list(regs) == ["q2"]
    assert regs["q2"]["norm_ratio"] == 2.0


def test_wall_gate_direction_marker():
    """ADVICE r8: a >1.5x SPEEDUP is flagged as a plan change worth
    noticing, but must not read as a regression — each entry carries a
    direction field."""
    regs = bench.wall_regressions({"q": 2.0}, 0.5, {"q": 0.5}, 0.5)
    assert regs["q"]["direction"] == "faster"
    regs = bench.wall_regressions({"q": 0.5}, 0.5, {"q": 2.0}, 0.5)
    assert regs["q"]["direction"] == "slower"


def test_wall_gate_armed_against_committed_r8_baseline():
    """VERDICT r8 #2: r9 is the first round with calibration probes on
    BOTH sides — the gate must arm non-vacuously against the committed
    r8 baseline (BENCH_METRICS.json / BENCH_r08.json), and demonstrably
    fire on a synthetic regression."""
    wall_file, prev_t, prev_cal = bench.load_prev_wall(REPO, 0.1)
    assert wall_file is not None
    assert prev_t, "no recoverable r8 wall baseline"
    assert prev_cal is not None, "r8 baseline has no calibration probe"
    # pick a real entry comfortably above the 0.3 s floor
    name = max(prev_t, key=prev_t.get)
    assert prev_t[name] >= bench.WALL_GATE_MIN_SEC
    # same host speed, one query 5x slower: the gate MUST fire
    cur = dict(prev_t)
    cur[name] = prev_t[name] * 5
    regs = bench.wall_regressions(prev_t, prev_cal, cur, prev_cal)
    assert name in regs and regs[name]["direction"] == "slower", regs
    # identical timings: quiet
    assert bench.wall_regressions(prev_t, prev_cal, dict(prev_t),
                                  prev_cal) == {}


def test_load_prev_wall_sf_guard(tmp_path):
    """ADVICE r8: a local sanity run at sf0.01 must NOT normalize its
    timings against the sf0.1 driver baseline — on sf mismatch both
    sources are skipped and the gate disarms."""
    with open(tmp_path / "BENCH_METRICS.json", "w") as f:
        json.dump({"sf": 0.1, "calibration_sec": [0.5],
                   "queries": {"q": 1.0},
                   "shuffle_bytes_written": {"q": 10}}, f)
    with open(tmp_path / "BENCH_r08.json", "w") as f:
        json.dump({"parsed": {"sf": 0.1, "calibration_sec": [0.5],
                              "queries": {"q": 1.0}}}, f)
    # matching sf: metrics file preferred
    name, t, cal = bench.load_prev_wall(str(tmp_path), 0.1)
    assert name == "BENCH_METRICS.json" and t == {"q": 1.0} and cal == 0.5
    # mismatched sf: both sources refused — disarmed, not poisoned
    name, t, cal = bench.load_prev_wall(str(tmp_path), 0.01)
    assert name is None and t == {} and cal is None
    # BENCH fallback when the metrics file is the wrong sf
    with open(tmp_path / "BENCH_METRICS.json", "w") as f:
        json.dump({"sf": 0.01, "calibration_sec": [0.4],
                   "queries": {"q": 9.0}}, f)
    name, t, cal = bench.load_prev_wall(str(tmp_path), 0.1)
    assert name == "BENCH_r08.json" and t == {"q": 1.0}


def test_calibration_recovered_from_tail():
    # min of the probes: contention only adds time
    doc = {"parsed": None,
           "tail": ('..."shuffle_kb":[1.0],"calibration_sec":[0.41,0.44,'
                    '0.39],"wall_regressions":{},"loadavg":[1]}')}
    assert bench._calibration_from_doc(doc) == 0.39
    assert bench._calibration_from_doc({"parsed": {"calibration_sec":
                                                   [0.5, 0.6, 0.7]}}) == 0.5
    assert bench._calibration_from_doc({"parsed": {"queries": {}}}) is None


def test_unmeasured_batch_entry_turns_red():
    """VERDICT r7 #6: a None/-1 shuffle measurement on a BATCH entry is
    a silent metrics failure — it must be flagged; streaming and the
    synthetic replay rows are unmeasured by design."""
    tags = {"batch_q": ("agg",), "stream_q": ("streaming",)}
    doc = {"parsed": {
        "queries": {"batch_q": 1.0, "stream_q": 2.0,
                    "split_replay_10x10k": 3.0},
        "shuffle_kb": [None, None, None]}}
    assert bench.unmeasured_batch_entries(doc, tags) == ["batch_q"]
    doc_ok = {"parsed": {
        "queries": {"batch_q": 1.0, "stream_q": 2.0,
                    "split_replay_10x10k": 3.0},
        "shuffle_kb": [5.5, None, None]}}
    assert bench.unmeasured_batch_entries(doc_ok, tags) == []


def test_committed_bench_has_no_silent_metric_gaps():
    """The newest committed bench metrics (BENCH_METRICS.json if
    present, else the newest recoverable BENCH_r*.json) must measure
    every batch entry they claim to track."""
    import glob
    import re

    from glue_parquet_splitter_spark.queries import load_all_modules

    reg = load_all_modules()
    tags = {n: s.tags for n, s in reg.items()}
    mpath = os.path.join(REPO, bench.METRICS_FILE)
    if os.path.exists(mpath):
        with open(mpath) as f:
            doc = json.load(f)
        assert bench.unmeasured_batch_entries(doc, tags) == [], mpath
        return
    rounds = sorted(
        (int(re.search(r"BENCH_r(\d+)", p).group(1)), p)
        for p in glob.glob(os.path.join(REPO, "BENCH_r*.json")))
    for _, path in reversed(rounds):
        with open(path) as f:
            doc = json.load(f)
        if bench._timings_from_doc(doc):
            assert bench.unmeasured_batch_entries(doc, tags) == [], path
            return
    raise AssertionError("no recoverable BENCH round found")


def test_cap_map_compacts_and_counts():
    """The in-line gate maps must stay tail-capture-safe when the gate
    fires wide: top-3 by |log ratio| as {name: ratio}, plus a count
    marker; small maps pass through compacted but untruncated."""
    wide = {f"q{i}": {"prev": 1.0, "cur": 1.0 + i, "norm_ratio": 1.0 + i,
                      "direction": "slower"} for i in range(1, 6)}
    out = bench.cap_map(wide)
    assert out["_truncated_n"] == 5
    assert set(out) == {"q5", "q4", "q3", "_truncated_n"}
    assert out["q5"] == 6.0
    small = {"q": {"ratio": 0.5}}
    assert bench.cap_map(small) == {"q": 0.5}
    # a 2x speedup is more extreme than a 1.6x slowdown
    mixed = {"fast": {"norm_ratio": 0.5}, "slow": {"norm_ratio": 1.6},
             "mid": {"norm_ratio": 1.2}, "tiny": {"norm_ratio": 1.05}}
    out = bench.cap_map(mixed)
    assert "fast" in out and "slow" in out and "tiny" not in out


def test_wall_gate_per_segment_normalization():
    """r9 shakedown: a contention burst hitting ONE stretch of the run
    (its segment probe slows with it) must not flag that segment's
    queries — while a query that's genuinely slower than its OWN
    segment's host speed still fires."""
    prev_t = {"early": 1.0, "late": 1.0}
    cur_t = {"early": 1.0, "late": 2.0}
    prev_map = {"early": 0.5, "late": 0.5}
    # the late segment's probe doubled with its queries: contention,
    # quiet.  Suite-min normalization would flag 'late' at 2.0x.
    cur_map = {"early": 0.5, "late": 1.0}
    assert bench.wall_regressions(prev_t, 0.5, cur_t, 0.5,
                                  prev_map, cur_map) == {}
    # same timings but the late probe stayed fast: real regression
    regs = bench.wall_regressions(prev_t, 0.5, cur_t, 0.5,
                                  prev_map, {"early": 0.5, "late": 0.5})
    assert list(regs) == ["late"]
    assert regs["late"]["norm_ratio"] == 2.0
    # a map-less baseline (r8) falls back to suite-min on BOTH sides —
    # never local-vs-global, which is systematically biased whenever
    # host speed varies within a run (the r9 shakedown produced 44
    # phantom 'faster' entries that way)
    regs = bench.wall_regressions(prev_t, 0.5, cur_t, 0.5, None, cur_map)
    assert regs["late"]["norm_ratio"] == 2.0  # global/global, r8 rule


def test_load_prev_cal_map_sf_guarded(tmp_path):
    import json as _json
    m = {"sf": 0.1, "cal_by_query": {"q": 0.5, "bad": "x"}}
    (tmp_path / "BENCH_METRICS.json").write_text(_json.dumps(m))
    assert bench.load_prev_cal_map(str(tmp_path), 0.1) == {"q": 0.5}
    assert bench.load_prev_cal_map(str(tmp_path), 0.01) == {}
    assert bench.load_prev_cal_map(str(tmp_path / "nope"), 0.1) == {}


# ---- cumulative cross-round wall anchor (VERDICT r9 #3) ----

def _anchor_round(tmp_path, timings, cal_map, sf=0.1):
    """One simulated bench round: load the committed anchor, update it
    with this round's calibrated timings, commit the metrics file —
    exactly the main() sequence."""
    prev = bench.load_prev_anchor(str(tmp_path), sf)
    anchor, regs = bench.update_wall_anchor(prev, timings, cal_map)
    bench.write_metrics_file(str(tmp_path), sf, timings, {}, [0.5],
                             wall_anchor=anchor, anchor_regs=regs)
    return anchor, regs


def test_anchor_slow_creep_trips_after_three_rounds(tmp_path):
    """1.3x/round for 3 rounds rides inside the 1.5x per-round gate but
    compounds to 2.2x: the memoryless per-round gate never fires, the
    anchor does."""
    cal = {"q": 0.5}
    t = 1.0
    _anchor_round(tmp_path, {"q": t}, cal)  # round 0: anchors at 2.0 norm
    for rnd in range(1, 4):
        t *= 1.3
        # per-round gate stays quiet at exactly 1.3x
        assert bench.wall_regressions({"q": t / 1.3}, 0.5, {"q": t}, 0.5,
                                      cal, cal) == {}
        anchor, regs = _anchor_round(tmp_path, {"q": t}, cal)
    assert "q" in regs, anchor
    assert regs["q"]["cum"] > 2.0
    # the frozen norm never moved
    assert anchor["q"]["norm"] == 2.0


def test_anchor_round_local_noise_does_not_trip(tmp_path):
    """A contention wobble (1.4x up, then back down) cancels in the
    telescoped product — no cumulative flag."""
    cal = {"q": 0.5}
    for t in (1.0, 1.4, 0.9, 1.1, 1.0):
        anchor, regs = _anchor_round(tmp_path, {"q": t}, cal)
        assert regs == {}, (t, regs)
    assert anchor["q"]["cum"] == 1.0


def test_anchor_is_rerun_stable(tmp_path):
    """Re-running bench on identical timings must NOT compound: the
    frozen norm passes through unchanged, cum stays put."""
    cal = {"q": 0.5}
    for _ in range(5):
        anchor, regs = _anchor_round(tmp_path, {"q": 1.2}, cal)
    assert anchor["q"]["norm"] == 2.4 and anchor["q"]["cum"] == 1.0
    assert regs == {}


def test_anchor_normalizes_out_host_speed(tmp_path):
    """A uniformly 2x-slower host moves t and the probe together — the
    anchor ratio is host-independent."""
    _anchor_round(tmp_path, {"q": 1.0}, {"q": 0.5})
    anchor, regs = _anchor_round(tmp_path, {"q": 2.0}, {"q": 1.0})
    assert regs == {} and anchor["q"]["cum"] == 1.0


def test_anchor_sub_gate_entries_never_flag(tmp_path):
    """Codegen-compile noise on a 0.1 s query can be 3x without
    meaning anything — below WALL_GATE_MIN_SEC the anchor tracks but
    does not flag."""
    _anchor_round(tmp_path, {"q": 0.05}, {"q": 0.5})
    anchor, regs = _anchor_round(tmp_path, {"q": 0.2}, {"q": 0.5})
    assert regs == {}
    assert anchor["q"]["cum"] == 4.0  # tracked, visible, not gated


def test_anchor_sf_guarded(tmp_path):
    """A local sanity run at another scale must not poison the anchor:
    the loader rejects a mismatched-sf metrics file."""
    _anchor_round(tmp_path, {"q": 1.0}, {"q": 0.5}, sf=0.1)
    assert bench.load_prev_anchor(str(tmp_path), 0.01) == {}
    assert bench.load_prev_anchor(str(tmp_path), 0.1) == {
        "q": {"norm": 2.0, "raw": 1.0, "probe": 0.5}}


def test_anchor_probe_regime_shift_does_not_flag(tmp_path):
    """VERDICT r11 #1 synthetic case 1: the probe floor halves (quiet
    host after a contended-era freeze) while the RAW wall is unchanged
    — cum doubles but raw_ratio stays 1.0, so the regime-robust gate
    must NOT flag (this is exactly the r11 knn_graph_lsh /
    hybrid_rrf_fusion_ivf false-positive mechanism)."""
    _anchor_round(tmp_path, {"q": 4.0}, {"q": 0.9})    # contended freeze
    anchor, regs = _anchor_round(tmp_path, {"q": 4.0}, {"q": 0.44})
    assert regs == {}, regs
    assert anchor["q"]["cum"] > bench.ANCHOR_GATE_RATIO  # visible...
    assert anchor["q"]["raw_ratio"] == 1.0               # ...but benign


def test_anchor_raw_slowdown_at_constant_probe_flags(tmp_path):
    """VERDICT r11 #1 synthetic case 2: the raw wall more than doubles
    while the probe is unchanged — cum and raw_ratio agree, the gate
    fires."""
    _anchor_round(tmp_path, {"q": 1.0}, {"q": 0.5})
    anchor, regs = _anchor_round(tmp_path, {"q": 2.2}, {"q": 0.5})
    assert "q" in regs
    assert regs["q"]["cum"] == 2.2 and regs["q"]["raw_ratio"] == 2.2


def test_anchor_contention_plus_regime_never_flags(tmp_path):
    """Mixed benign case: host contention inflates the raw wall 2.2x
    while the probe inflates with it (norm flat) — raw_ratio is over
    but cum is not; no flag."""
    _anchor_round(tmp_path, {"q": 1.0}, {"q": 0.5})
    anchor, regs = _anchor_round(tmp_path, {"q": 2.2}, {"q": 1.1})
    assert regs == {}
    assert anchor["q"]["raw_ratio"] == 2.2 and anchor["q"]["cum"] == 1.0


def test_anchor_legacy_norm_only_gates_on_cum(tmp_path):
    """Pre-r12 anchors carry only the norm: until a deliberate
    re-freeze they keep the old cum-only gate (no silent disarm)."""
    import json as _json

    m = {"sf": 0.1, "queries": {"q": 1.0}, "cal_by_query": {"q": 0.5},
         "wall_anchor": {"q": {"norm": 1.0}}, "calibration_sec": [0.5]}
    (tmp_path / "BENCH_METRICS.json").write_text(_json.dumps(m))
    prev = bench.load_prev_anchor(str(tmp_path), 0.1)
    assert prev == {"q": {"norm": 1.0}}
    anchor, regs = bench.update_wall_anchor(prev, {"q": 1.2}, {"q": 0.5})
    assert "q" in regs and "raw_ratio" not in regs["q"]


def test_anchor_freeze_requires_quiet_host(tmp_path):
    """freeze_ok=False (loadavg >= 1 at suite start) must not CREATE
    anchors — a contended first sighting bakes the regime defect in —
    while existing anchors still grade."""
    anchor, regs = bench.update_wall_anchor({}, {"q": 1.0}, {"q": 0.5},
                                            freeze_ok=False)
    assert anchor == {} and regs == {}
    prev = {"q": {"norm": 2.0, "raw": 1.0, "probe": 0.5}}
    anchor, regs = bench.update_wall_anchor(prev, {"q": 2.2}, {"q": 0.5},
                                            freeze_ok=False)
    assert "q" in regs  # grading continues on a loaded host


def test_anchor_armed_against_committed_baseline():
    """The committed BENCH_METRICS.json must carry a seeded wall_anchor
    map (r10+) covering every committed bench entry, and replaying the
    committed timings against it must flag nothing — proof the anchor
    is ARMED for the next canonical run, not just unit-tested."""
    import json

    with open(os.path.join(REPO, "BENCH_METRICS.json")) as f:
        mdoc = json.load(f)
    prev = bench.load_prev_anchor(REPO, mdoc["sf"])
    assert prev, "wall_anchor missing from committed BENCH_METRICS.json"
    cal = {k: float(v) for k, v in mdoc["cal_by_query"].items()}
    timings = {k: float(v) for k, v in mdoc["queries"].items()}
    assert set(prev) == set(k for k in timings if k in cal)
    anchor, regs = bench.update_wall_anchor(prev, timings, cal)
    # self-consistency: replaying the committed run reproduces the
    # committed cums and regressions exactly (norms pass through)
    committed = mdoc.get("wall_anchor") or {}
    for k, v in anchor.items():
        assert v["norm"] == committed[k]["norm"], k
        # tolerance: the file stores cal/cum at 3 decimals, so the
        # replay (rounded inputs) can differ from the committed cum
        # (unrounded inputs) by a few millis
        assert abs(v["cum"] - committed[k]["cum"]) < 5e-3, k
    assert set(regs) == set(mdoc.get("anchor_regressions") or {})


def test_stdout_line_fits_tail_capture():
    """r12: the 70-entry suite pushed the full per-query map to 2226
    chars — past the driver's 2000-char tail capture (the r7
    '"parsed": null' failure).  Rebuild the line exactly as main()
    does from the committed metrics and pin it under 1900 chars with
    the slowest-N cap applied."""
    with open(os.path.join(REPO, bench.METRICS_FILE)) as f:
        mdoc = json.load(f)
    timings = {k: float(v) for k, v in mdoc["queries"].items()}
    line_top = dict(sorted(timings.items(),
                           key=lambda kv: -kv[1])[:bench._LINE_TOP_QUERIES])
    line_q = {k: round(v, 2) for k, v in timings.items() if k in line_top}
    if len(timings) > len(line_q):
        line_q["_omitted_n"] = len(timings) - len(line_q)
    line = json.dumps({
        "metric": "headline_suite_sec", "value": 99.999, "unit": "sec",
        "queries": line_q, "sf": mdoc.get("sf", 0.1),
        "split_replay_rows_per_sec": 99999,
        "split_replay_skew_rows_per_sec": 99999,
        "shuffle_regressions": bench.cap_map(
            mdoc.get("shuffle_regressions") or {}),
        "calibration_sec": [0.414],
        "wall_over": len(mdoc.get("wall_regressions") or {}),
        "anchor_over": 0, "anchor_regs": {},
    }, separators=(",", ":"))
    assert len(line) < 1900, len(line)
    # the omission marker never leaks into timing recovery
    doc = {"parsed": {"queries": line_q}}
    assert "_omitted_n" not in bench._timings_from_doc(doc)


# ---- quiet-baseline overwrite guard (VERDICT r15 #2) ----

def test_contended_run_cannot_clobber_quiet_baseline(tmp_path, monkeypatch):
    """A contended-host run (loadavg_start >= the anchor-freeze
    threshold) must not overwrite a quiet committed BENCH_METRICS.json
    in place — the r15 driver run did exactly that and filled
    wall_regressions with 59 cross-regime phantoms."""
    monkeypatch.delenv("SPARK_GRAFT_FORCE_METRICS", raising=False)
    quiet = {"q1": 1.0}
    bench.write_metrics_file(str(tmp_path), 0.1, quiet, {}, [0.5],
                             loadavg_start=0.05)
    # contended run refused
    bench.write_metrics_file(str(tmp_path), 0.1, {"q1": 9.9}, {}, [0.9],
                             loadavg_start=5.12)
    with open(tmp_path / "BENCH_METRICS.json") as f:
        doc = json.load(f)
    assert doc["queries"] == quiet and doc["loadavg_start"] == 0.05
    # quieter run accepted (quiet-over-quiet always wins)
    bench.write_metrics_file(str(tmp_path), 0.1, {"q1": 0.9}, {}, [0.4],
                             loadavg_start=0.02)
    with open(tmp_path / "BENCH_METRICS.json") as f:
        assert json.load(f)["queries"] == {"q1": 0.9}
    # a contended run still cannot land over the quiet 0.02 baseline
    bench.write_metrics_file(str(tmp_path), 0.1, {"q1": 3.3}, {}, [0.9],
                             loadavg_start=4.0)
    with open(tmp_path / "BENCH_METRICS.json") as f:
        assert json.load(f)["queries"] == {"q1": 0.9}
    # legacy file without loadavg_start: anything may replace it
    with open(tmp_path / "BENCH_METRICS.json", "w") as f:
        json.dump({"sf": 0.1, "queries": {"q1": 1.0}}, f)
    bench.write_metrics_file(str(tmp_path), 0.1, {"q1": 2.0}, {}, [0.9],
                             loadavg_start=5.0)
    with open(tmp_path / "BENCH_METRICS.json") as f:
        assert json.load(f)["queries"] == {"q1": 2.0}


def test_force_metrics_env_overrides_quiet_guard(tmp_path, monkeypatch):
    """SPARK_GRAFT_FORCE_METRICS=1 is the deliberate re-baseline escape
    hatch."""
    bench.write_metrics_file(str(tmp_path), 0.1, {"q1": 1.0}, {}, [0.5],
                             loadavg_start=0.05)
    monkeypatch.setenv("SPARK_GRAFT_FORCE_METRICS", "1")
    bench.write_metrics_file(str(tmp_path), 0.1, {"q1": 7.7}, {}, [0.9],
                             loadavg_start=5.12)
    with open(tmp_path / "BENCH_METRICS.json") as f:
        assert json.load(f)["queries"] == {"q1": 7.7}

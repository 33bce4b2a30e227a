"""Registry rotation: the driver grades a capped prefix of ``queries()``,
so ordering must put not-yet-verified queries first (oracled before
rows-only) and already-green ones last."""

import json
import os

from glue_parquet_splitter_spark.queries import load_all_modules, ordered_registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_rotation_prioritizes_unverified(tmp_path):
    reg = load_all_modules()
    names = list(reg)
    # fake a driver file: first 10 registry queries green, one checked
    # rows-only (the registry has had no rows-only queries since r6 —
    # the driver records this shape for a query whose oracle errored)
    fake = {n: {"hash_match": True, "err": None, "spark_rows": 1} for n in names[:10]}
    # a stale rows-only credit gives NO rotation credit once the spec
    # has an oracle — the query must rotate to the front for a hash row
    fake[names[10]] = {"hash_match": None, "err": "no_oracle", "spark_rows": 3}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(fake))

    ordered = list(ordered_registry(str(tmp_path)))
    assert len(ordered) == len(names)
    green = set(names[:10])
    n_unverified = len(names) - len(green)
    # every green query sits after every unverified one
    assert all(n in green for n in ordered[n_unverified:])
    assert not any(n in green for n in ordered[:n_unverified])
    # rows-only unverified queries (none registered today) sort behind
    # oracled ones
    rows_only = [n for n in ordered if reg[n].oracle is None]
    assert rows_only == []


def test_rotation_no_files_is_registry_order(tmp_path):
    assert list(ordered_registry(str(tmp_path))) != []
    reg = load_all_modules()
    # with no correctness files every query is "unverified": oracled keep
    # registry order, rows-only move to the back
    ordered = list(ordered_registry(str(tmp_path)))
    oracled = [n for n in reg if reg[n].oracle is not None]
    rows_only = [n for n in reg if reg[n].oracle is None]
    assert ordered == oracled + rows_only


def test_rotation_regrades_stalest_green_first(tmp_path):
    """Verified queries re-grade oldest-green first: code under an
    r1-green query may have changed since, so its driver row must
    refresh before re-confirming queries greened last round."""
    reg = load_all_modules()
    names = list(reg)
    r1 = {n: {"hash_match": True, "err": None, "spark_rows": 1}
          for n in names[:5]}
    r2 = {n: {"hash_match": True, "err": None, "spark_rows": 1}
          for n in names[5:10]}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(r1))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(r2))

    ordered = list(ordered_registry(str(tmp_path)))
    tail = ordered[-10:]  # the verified block sits at the back
    assert set(tail) == set(names[:10])
    assert set(tail[:5]) == set(r1)   # r1-era rows re-grade first
    assert set(tail[5:]) == set(r2)
    # a query green in BOTH rounds counts as r2-fresh
    both = dict(r2)
    both[names[0]] = {"hash_match": True, "err": None, "spark_rows": 1}
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(both))
    ordered = list(ordered_registry(str(tmp_path)))
    assert ordered[-10:][:4] == names[1:5]  # names[0] moved to the r2 group


def test_real_ledger_fronts_never_graded_then_stalest():
    """Structural pin on the REAL committed ledger (VERDICT r9 #1):
    iteration order must be never-graded first, then graded queries in
    non-decreasing last-graded round — so the driver's ~50 slots are
    always the most signal-starved slice, whatever the ledger says."""
    import glob
    import json
    import re

    green = {}

    def rnd(p):
        return int(re.search(r"CORRECTNESS_r(\d+)\.json$", p).group(1))

    for p in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")), key=rnd):
        for n, row in json.load(open(p)).items():
            if isinstance(row, dict) and row.get("hash_match") is True:
                green[n] = rnd(p)
    from glue_parquet_splitter_spark.queries import (
        GRADE_ALIASES,
        REGRADE_FRONT,
    )

    # pure renames inherit their grade lineage, exactly as
    # ordered_registry applies them (r15: dp_noisy_counts_seeded)
    for new_name, old_name in GRADE_ALIASES.items():
        if new_name not in green and old_name in green:
            green[new_name] = green[old_name]

    names = list(ordered_registry(REPO))
    max_round = max(green.values(), default=0)
    front = {n for n, r in REGRADE_FRONT.items()
             if n in green and green[n] < r and r <= max_round + 1}
    graded_idx = [i for i, n in enumerate(names)
                  if n in green and n not in front]
    ungraded_idx = [i for i, n in enumerate(names) if n not in green]
    front_idx = [i for i, n in enumerate(names) if n in front]
    if ungraded_idx and graded_idx:
        assert max(ungraded_idx) < min(graded_idx), (
            "a graded query sorted ahead of a never-graded one")
    if front_idx:
        # contract-changed regrades sit between the never-graded front
        # and the stale-green block
        assert max(ungraded_idx, default=-1) < min(front_idx)
        assert max(front_idx) < min(graded_idx, default=len(names))
    rounds_in_order = [green[names[i]] for i in graded_idx]
    assert rounds_in_order == sorted(rounds_in_order), (
        "graded queries are not in stalest-first order")


def test_rotation_regrade_front_between_unverified_and_stale(tmp_path):
    """REGRADE_FRONT (contract changed after the latest green) sits
    AFTER never-graded queries but BEFORE the stale-green block — and
    only applies to queries that actually have a green row (an
    unverified query is already front)."""
    import glue_parquet_splitter_spark.queries as Q

    reg = load_all_modules()
    names = list(reg)
    # everything green in r1 except names[0] (never graded);
    # names[3] additionally green in r2
    r1 = {n: {"hash_match": True, "err": None, "spark_rows": 1}
          for n in names[1:]}
    r2 = {names[3]: {"hash_match": True, "err": None, "spark_rows": 1}}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(r1))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(r2))
    saved = dict(Q.REGRADE_FRONT)
    try:
        Q.REGRADE_FRONT.clear()
        # names[7]: changed in r2, last green r1 -> fronts;
        # names[3]: changed in r2 but r2 re-graded it green -> CLEARED;
        # names[0]: never graded -> membership irrelevant, fronts as
        # unverified anyway
        Q.REGRADE_FRONT.update({names[7]: 2, names[3]: 2, names[0]: 2})
        ordered = list(ordered_registry(str(tmp_path)))
        assert ordered[0] == names[0]
        assert ordered[1] == names[7]
        assert set(ordered[2:]) == set(names) - {names[0], names[7]}
        # self-clearing: names[3] sorted with the ordinary green block
        assert ordered.index(names[3]) > 1
    finally:
        Q.REGRADE_FRONT.clear()
        Q.REGRADE_FRONT.update(saved)

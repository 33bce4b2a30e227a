"""The broadcast-boundedness lint (scripts/check_repo.py check 4c,
VERDICT r8 #3) — the repo must pass, and a seeded violation must fail.

An explicit F.broadcast() hint bypasses autoBroadcastJoinThreshold, so a
hint on a data-dependent side (a dedup drop set, a per-user size table)
turns a graceful shuffle-join degradation into an executor OOM at
100 TB.  The lint requires every call site to carry a boundedness
proof: a global .agg() scalar, a .limit(k), a region|nation fixture
dim, or a `# bounded: <cardinality argument>` comment.
"""

import os
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from check_repo import scan_broadcast_sites  # noqa: E402


def test_repo_has_no_unjustified_broadcasts():
    hits = scan_broadcast_sites(os.path.join(REPO, "glue_parquet_splitter_spark"))
    assert hits == [], "unjustified F.broadcast sites:\n" + "\n".join(hits)


def test_seeded_violation_fails(tmp_path):
    (tmp_path / "bad_q.py").write_text(textwrap.dedent("""\
        from pyspark.sql import functions as F

        def apply_dedup(corpus, removed):
            return corpus.join(F.broadcast(removed), "doc_id", "left_anti")
    """))
    hits = scan_broadcast_sites(str(tmp_path))
    assert len(hits) == 1 and "bad_q.py:4" in hits[0], hits


def test_seeded_violation_passes_with_bounded_comment(tmp_path):
    (tmp_path / "ok_q.py").write_text(textwrap.dedent("""\
        from pyspark.sql import functions as F

        def enrich(fact, dim):
            # bounded: dim is a 7-row day-of-week table
            return fact.join(F.broadcast(dim), "dow")
    """))
    assert scan_broadcast_sites(str(tmp_path)) == []


def test_auto_proofs_pass(tmp_path):
    (tmp_path / "auto_q.py").write_text(textwrap.dedent("""\
        from pyspark.sql import functions as F

        def shapes(fact, load_table, spark, sf_dir):
            total = fact.agg(F.sum("x").alias("t"))
            top = fact.orderBy("x").limit(10)
            n = load_table(spark, sf_dir, "nation")
            g = fact.groupBy().agg(F.count("*").alias("n"))
            a = fact.crossJoin(F.broadcast(total))
            b = fact.join(F.broadcast(top), "k")
            c = fact.join(F.broadcast(n), "nk")
            d = fact.crossJoin(F.broadcast(g))
            return a, b, c, d
    """))
    assert scan_broadcast_sites(str(tmp_path)) == []


def test_bare_broadcast_import_is_gated(tmp_path):
    # ADVICE r9: `from pyspark.sql.functions import broadcast` must not
    # bypass the lint — ast.Name calls are matched too
    (tmp_path / "bare_q.py").write_text(textwrap.dedent("""\
        from pyspark.sql.functions import broadcast

        def apply_dedup(corpus, removed):
            return corpus.join(broadcast(removed), "doc_id", "left_anti")
    """))
    hits = scan_broadcast_sites(str(tmp_path))
    assert len(hits) == 1 and "bare_q.py:4" in hits[0], hits


def test_groupby_agg_is_not_an_auto_proof(tmp_path):
    # a groupBy(key) aggregate is O(|key domain|) — data-dependent, so
    # it must NOT auto-pass without a comment
    (tmp_path / "gb_q.py").write_text(textwrap.dedent("""\
        from pyspark.sql import functions as F

        def sizes_join(fact):
            sizes = fact.groupBy("user_id").agg(F.count("*").alias("n"))
            return fact.join(F.broadcast(sizes), "user_id")
    """))
    hits = scan_broadcast_sites(str(tmp_path))
    assert len(hits) == 1, hits


# ---- unpartitioned-window boundedness lint (check 4d, VERDICT r9 #2) ----

from check_repo import scan_window_sites  # noqa: E402


def test_repo_has_no_unjustified_global_windows():
    hits = scan_window_sites(os.path.join(REPO, "glue_parquet_splitter_spark"))
    assert hits == [], "unjustified global Window.orderBy sites:\n" + \
        "\n".join(hits)


def test_seeded_global_window_fails(tmp_path):
    (tmp_path / "badw_q.py").write_text(textwrap.dedent("""\
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        def rank_all(docs):
            w = Window.orderBy("score", "doc_id")
            return docs.withColumn("rn", F.row_number().over(w))
    """))
    hits = scan_window_sites(str(tmp_path))
    assert len(hits) == 1 and "badw_q.py:5" in hits[0], hits


def test_seeded_global_window_passes_with_comment(tmp_path):
    (tmp_path / "okw_q.py").write_text(textwrap.dedent("""\
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        def rank_days(per_day):
            # bounded: one row per calendar day
            w = Window.orderBy("d")
            return per_day.withColumn("rn", F.row_number().over(w))
    """))
    assert scan_window_sites(str(tmp_path)) == []


def test_global_window_over_bounded_receiver_auto_passes(tmp_path):
    (tmp_path / "autow_q.py").write_text(textwrap.dedent("""\
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        def topk_rank(docs):
            top = docs.orderBy(F.desc("score")).limit(100)
            w = Window.orderBy(F.desc("score"), "doc_id")
            return top.select("doc_id", F.row_number().over(w).alias("rn"))
    """))
    assert scan_window_sites(str(tmp_path)) == []


def test_partitioned_window_is_not_flagged(tmp_path):
    (tmp_path / "partw_q.py").write_text(textwrap.dedent("""\
        from pyspark.sql.window import Window as W
        from pyspark.sql import functions as F

        def per_user_rank(events):
            w = W.partitionBy("user_id").orderBy("ts")
            return events.withColumn("rn", F.row_number().over(w))
    """))
    assert scan_window_sites(str(tmp_path)) == []


def test_window_alias_W_is_matched(tmp_path):
    (tmp_path / "aliasw_q.py").write_text(textwrap.dedent("""\
        from pyspark.sql.window import Window as W
        from pyspark.sql import functions as F

        def rank_all(docs):
            return docs.withColumn(
                "rn", F.row_number().over(W.orderBy("doc_id")))
    """))
    hits = scan_window_sites(str(tmp_path))
    assert len(hits) == 1, hits


# ---------------------------------------------------------------------
# lambda-CSE lint (check 4a): the f-string-interpolation branch is a
# conservative overapproximation, so it gained a `# lambda-ok:` escape
# hatch (round 10, cdc_gear_chunking's let-binding) — but the literal
# split/md5/sha/regexp hits must stay a hard gate.

from check_repo import scan_lambda_sites  # noqa: E402


def test_repo_has_no_lambda_cse_hits():
    hits = scan_lambda_sites(os.path.join(REPO, "glue_parquet_splitter_spark"))
    assert hits == [], "lambda-CSE hits:\n" + "\n".join(hits)


def test_seeded_interpolation_in_lambda_fails(tmp_path):
    (tmp_path / "bad_q.py").write_text(textwrap.dedent("""\
        H = "md5(x)"

        def q(df):
            return df.selectExpr(f"transform(a, x -> {H} || x)")
    """))
    hits = scan_lambda_sites(str(tmp_path))
    assert len(hits) == 1 and "bad_q.py:4" in hits[0], hits


def test_lambda_ok_comment_excuses_interpolation(tmp_path):
    (tmp_path / "ok_q.py").write_text(textwrap.dedent("""\
        H = "size(w)"

        def q(df):
            # lambda-ok: per-element window math over a let-bound array
            return df.selectExpr(f"transform(a, x -> {H} + x)")
    """))
    assert scan_lambda_sites(str(tmp_path)) == []


def test_lambda_ok_does_not_excuse_literal_md5(tmp_path):
    (tmp_path / "bad2_q.py").write_text(textwrap.dedent("""\
        def q(df):
            # lambda-ok: (must NOT work: literal md5 is the hard gate)
            return df.selectExpr("transform(a, x -> md5(x))")
    """))
    hits = scan_lambda_sites(str(tmp_path))
    assert len(hits) == 1, hits


# ---- window-totality lint (check 4e, VERDICT r14 #2) ----
# A green ledger proves one dice roll: a pick over a window whose
# declared order is non-total within a partition is run-nondeterministic
# (the r14 luck-dependent-pass class).  The lint requires a totality
# proof on every pick-feeding partitioned Window.orderBy.

from check_repo import scan_pick_window_sites  # noqa: E402


def test_repo_has_no_unjustified_pick_windows():
    hits = scan_pick_window_sites(os.path.join(REPO, "glue_parquet_splitter_spark"))
    assert hits == [], "pick windows with no totality proof:\n" + \
        "\n".join(hits)


def test_seeded_pick_window_fails(tmp_path):
    (tmp_path / "badp_q.py").write_text(textwrap.dedent("""\
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        def latest(events):
            w = Window.partitionBy("user_id").orderBy("ts")
            return events.withColumn("rn", F.row_number().over(w))
    """))
    hits = scan_pick_window_sites(str(tmp_path))
    assert len(hits) == 1 and "badp_q.py:5" in hits[0], hits


def test_seeded_pick_window_passes_with_total_order_comment(tmp_path):
    (tmp_path / "okp_q.py").write_text(textwrap.dedent("""\
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        def latest(daily):
            # total-order: day is unique per user (groupBy output)
            w = Window.partitionBy("user_id").orderBy("day")
            return daily.withColumn("rn", F.row_number().over(w))
    """))
    assert scan_pick_window_sites(str(tmp_path)) == []


def test_contract_pk_trailing_key_auto_passes(tmp_path):
    (tmp_path / "autop_q.py").write_text(textwrap.dedent("""\
        from pyspark.sql import Window
        from pyspark.sql import functions as F
        from ..operators.events import unique_events

        def pick(load_table, spark, sf_dir):
            ev = unique_events(load_table(spark, sf_dir, "events"))
            w = Window.partitionBy("user_id").orderBy("ts", "event_id")
            return ev.withColumn("rn", F.row_number().over(w))
    """))
    assert scan_pick_window_sites(str(tmp_path)) == []


def test_contract_pk_without_contract_call_fails(tmp_path):
    # trailing event_id alone is NOT a proof — the contract must be
    # applied in the same function (a raw read keeps duplicate pks)
    (tmp_path / "rawp_q.py").write_text(textwrap.dedent("""\
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        def pick(events):
            w = Window.partitionBy("user_id").orderBy("ts", "event_id")
            return events.withColumn("rn", F.row_number().over(w))
    """))
    hits = scan_pick_window_sites(str(tmp_path))
    assert len(hits) == 1, hits


def test_rank_class_is_tie_stable_and_not_flagged(tmp_path):
    # rank/dense_rank give every order-tied row the SAME value — the
    # output (including a rk=1 filter, which keeps the whole tied set)
    # is invariant to the tie roll, so no totality proof is needed
    (tmp_path / "rankp_q.py").write_text(textwrap.dedent("""\
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        def ranked(docs):
            w = Window.partitionBy("lang").orderBy(F.desc("score"))
            return docs.withColumn("r", F.rank().over(w))
    """))
    assert scan_pick_window_sites(str(tmp_path)) == []


def test_partial_rows_frame_aggregate_is_flagged(tmp_path):
    # a running sum over a partial ROWS frame is order-sensitive even
    # though sum() itself is commutative — ties reorder the prefixes
    (tmp_path / "framep_q.py").write_text(textwrap.dedent("""\
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        def running(orders):
            w = (Window.partitionBy("cust").orderBy("day")
                 .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            return orders.withColumn("run", F.sum("price").over(w))
    """))
    hits = scan_pick_window_sites(str(tmp_path))
    assert len(hits) == 1, hits


def test_whole_partition_rows_frame_aggregate_not_flagged(tmp_path):
    # an unbounded-to-unbounded ROWS frame is the whole partition —
    # order-irrelevant for an aggregate
    (tmp_path / "wholep_q.py").write_text(textwrap.dedent("""\
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        def total(orders):
            w = (Window.partitionBy("cust").orderBy("day")
                 .rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing))
            return orders.withColumn("tot", F.sum("price").over(w))
    """))
    assert scan_pick_window_sites(str(tmp_path)) == []


def _absolute_imports(path):
    """(line, top-level module) for each absolute import in ``path``."""
    import ast

    with open(path) as fh:
        tree = ast.parse(fh.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and not node.level:
            names = [node.module or ""]
        else:
            continue
        for n in names:
            yield node.lineno, n.split(".")[0]


# ---- one helper for concurrent arms (staging.run_concurrently) ----
# Threads started by hand escape the caller's job group; every
# concurrent arm goes through staging.run_concurrently instead.

def test_only_staging_imports_thread_modules():
    pkg = os.path.join(REPO, "glue_parquet_splitter_spark")
    hits = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == os.path.join(pkg, "staging.py"):
                continue
            for line, mod in _absolute_imports(path):
                if mod in ("threading", "concurrent"):
                    hits.append(f"{os.path.relpath(path, REPO)}:{line}")
    assert hits == [], "thread modules imported outside staging.py:\n" + \
        "\n".join(hits)


# ---- the sample-data oracle stays independent of the package ----
# The golden replay (test_splitter.py) compares the package's split with
# goldens that tests/sample_replica.py computes when the reference's own
# artifacts are absent.  An oracle that called the code under test would
# make that replay circular.

def test_sample_replica_imports_nothing_from_the_package():
    path = os.path.join(REPO, "tests", "sample_replica.py")
    hits = [f"tests/sample_replica.py:{line}"
            for line, mod in _absolute_imports(path)
            if mod == "glue_parquet_splitter_spark"]
    assert hits == [], "the replica's oracle imports the package:\n" + \
        "\n".join(hits)


# ---- one place patches the import system (session.guard_zip_rereads) ----
# A patch on zipimport changes how every Python worker imports; its
# version gate and its fallbacks to the stdlib method live in one place.

def _zipimport_writes(path):
    """Lines that bind the name ``zipimport``, assign into it or call
    ``setattr`` on it."""
    import ast

    def rooted(node):
        while isinstance(node, (ast.Attribute, ast.Subscript)):
            node = node.value
        return isinstance(node, ast.Name) and node.id == "zipimport"

    with open(path) as fh:
        tree = ast.parse(fh.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif (isinstance(node, ast.Call) and node.args
              and isinstance(node.func, ast.Name)
              and node.func.id == "setattr"):
            targets = node.args[:1]
        else:
            continue
        if any(rooted(t) for t in targets):
            yield node.lineno


def _zipimport_hits(path):
    return sorted({line for line, mod in _absolute_imports(path)
                   if mod == "zipimport"} | set(_zipimport_writes(path)))


def test_only_the_guard_touches_zipimport():
    pkg = os.path.join(REPO, "glue_parquet_splitter_spark")
    guard = os.path.join(pkg, "session.py")
    hits = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            path = os.path.join(root, f)
            if f.endswith(".py") and path != guard:
                hits += [f"{os.path.relpath(path, REPO)}:{line}"
                         for line in _zipimport_hits(path)]
    assert hits == [], "zipimport touched outside session.py:\n" + \
        "\n".join(hits)
    assert _zipimport_hits(guard), "the guard no longer patches zipimport"


def test_seeded_zipimport_patch_fails(tmp_path):
    p = tmp_path / "mod.py"
    p.write_text(textwrap.dedent("""\
        import importlib
        from zipimport import zipimporter
        zipimport = importlib.import_module("zipimport")
        zipimport.zipimporter.invalidate_caches = None
        setattr(zipimport.zipimporter, "find_spec", None)
        zipimport._zip_directory_cache["x"] = {}
    """))
    assert _zipimport_hits(str(p)) == [2, 3, 4, 5, 6]

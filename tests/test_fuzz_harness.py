"""The adversarial-fixture harness (scripts/fuzz_oracle.py) must stay
schema-compatible with the driver fixtures — a drifted column type
would make every fuzz failure noise — and its hostile content must
actually be hostile (nulls, unicode, ties, dangling FKs present)."""

import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from fuzz_oracle import classify_exception, gen_fixtures  # noqa: E402

from glue_parquet_splitter_spark.catalog import TABLES  # noqa: E402


@pytest.fixture(scope="module")
def fuzz_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fuzz_fixtures")
    gen_fixtures(str(d), seed=0)
    return str(d)


def test_schemas_match_driver_fixtures(fuzz_dir, sf_dir):
    for t in TABLES:
        ref = pq.read_schema(f"{sf_dir}/{t}.parquet")
        got = pq.read_schema(f"{fuzz_dir}/{t}.parquet")
        assert got.names == ref.names, t
        for name in ref.names:
            assert str(got.field(name).type) == str(ref.field(name).type), \
                f"{t}.{name}: {got.field(name).type} vs {ref.field(name).type}"


def test_hostilities_present(fuzz_dir):
    import duckdb

    con = duckdb.connect()
    q = lambda s: con.sql(  # noqa: E731
        s.replace("@", f"'{fuzz_dir}/")).fetchone()[0]
    assert q("SELECT COUNT(*) FROM read_parquet(@documents.parquet') "
             "WHERE text IS NULL") > 0
    assert q("SELECT COUNT(*) FROM read_parquet(@documents.parquet') "
             "WHERE text = ''") > 0
    assert q("SELECT COUNT(*) FROM read_parquet(@documents.parquet') "
             "WHERE octet_length(encode(text)) > length(text)") > 0  # unicode
    # heavy event-timestamp ties
    assert q("SELECT COUNT(DISTINCT ts) FROM "
             "read_parquet(@events.parquet')") <= 10
    # dangling order FK
    assert q("SELECT COUNT(*) FROM read_parquet(@orders.parquet') o "
             "WHERE NOT EXISTS (SELECT 1 FROM "
             "read_parquet(@customer.parquet') c "
             "WHERE c.c_custkey = o.o_custkey)") > 0
    # zero + duplicate embeddings
    assert q("SELECT COUNT(*) FROM read_parquet(@embeddings.parquet') "
             "WHERE list_sum(list_transform(embedding, x -> abs(x))) = 0"
             ) >= 5
    # mega-order skew
    assert q("SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM "
             "read_parquet(@lineitem.parquet') GROUP BY l_orderkey)") >= 300


def test_generation_is_seed_deterministic(tmp_path):
    import hashlib

    import duckdb

    def digest(d):
        gen_fixtures(str(d), seed=3)
        con = duckdb.connect()
        h = hashlib.md5()
        for t in sorted(TABLES):
            rows = con.sql(
                f"SELECT * FROM read_parquet('{d}/{t}.parquet')").fetchall()
            h.update(repr(rows).encode())
        return h.hexdigest()

    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir(), b.mkdir()
    assert digest(a) == digest(b)


class _FakeThrowable:
    """Stand-in for a py4j Java throwable: toString + getCause."""

    def __init__(self, text, cause=None):
        self._t, self._c = text, cause

    def toString(self):  # noqa: N802 — py4j camelCase
        return self._t

    def getCause(self):  # noqa: N802
        return self._c


_DESIGNED = ("org.apache.spark.SparkRuntimeException: "
             "[USER_RAISED_EXCEPTION] pack_wav: non-ASCII text for "
             "doc_id=7 (10 chars but 12 UTF-8 bytes) would desync the "
             "PCM sample plane")


def test_guard_classification():
    """GUARD needs the USER_RAISED marker AND a designed raise message,
    found anywhere in the unwrapped cause chain (VERDICT r11 #8 +
    ADVICE r11)."""
    # direct captured form: marker + message in str(exc)
    assert classify_exception(ValueError(_DESIGNED)) == "GUARD"
    # truncated Py4J awaitResult wrapper: str(exc) lacks the user
    # message entirely; the real raise sits in the Java cause chain
    wrapper = RuntimeError(
        "An error occurred while calling o123.save: "
        "org.apache.spark.SparkException: Exception thrown in "
        "awaitResult:")
    wrapper.java_exception = _FakeThrowable(
        "org.apache.spark.SparkException: Exception thrown in "
        "awaitResult:", _FakeThrowable(_DESIGNED))
    assert classify_exception(wrapper) == "GUARD"
    # a NON-guard engine error that merely MENTIONS a guard function
    # name (the old bare 'octet_length' pattern auto-GUARDed this)
    binder = RuntimeError(
        'Binder Error: No function matches octet_length(encode(text))')
    binder.java_exception = _FakeThrowable(
        "java.lang.RuntimeException: octet_length broke in codegen")
    assert classify_exception(binder) == "FAIL"
    # marker without a designed message is not a known guard
    assert classify_exception(
        ValueError("[USER_RAISED_EXCEPTION] some other user error")
    ) == "FAIL"
    assert classify_exception(ValueError("boom")) == "FAIL"


def test_malformed_embedding_shapes(tmp_path):
    """--malformed plants the structurally broken vectors the
    well-formedness contract must exclude (ADVICE r11)."""
    import duckdb

    gen_fixtures(str(tmp_path), seed=0, malformed=True)
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet') "
        f"WHERE vec_id IN (95, 96, 97, 98, 99) ORDER BY vec_id"
    ).fetchall()
    by_id = {r[0]: r[1] for r in rows}
    assert by_id[95] is None                       # NULL vector
    assert by_id[96] == []                         # empty vector
    assert by_id[97][0] is None                    # NULL component
    assert len(by_id[98]) == 10                    # ragged (short)
    assert all(x is None for x in by_id[99])       # all-NULL comps


def test_nullkeys_dimension(tmp_path):
    """--nullkeys nulls a fraction of every declared join/group KEY
    column — the base hostility keeps keys clean, so this dimension
    must actually dirty them — while schemas and primary keys stay
    intact."""
    import duckdb

    from fuzz_oracle import _NULLKEY_COLS

    gen_fixtures(str(tmp_path), seed=0, nullkeys=True)
    con = duckdb.connect()
    for t, cols in _NULLKEY_COLS.items():
        for c in cols:
            n = con.sql(
                f"SELECT COUNT(*) FROM read_parquet('{tmp_path}/{t}.parquet') "
                f"WHERE {c} IS NULL").fetchone()[0]
            assert n > 0, f"{t}.{c} has no NULLs under --nullkeys"
    # primary keys stay non-NULL (the modeled upstream bug is a fact
    # row with a missing dimension reference, not a broken identity)
    for t, pk in (("orders", "o_orderkey"), ("lineitem", "l_orderkey"),
                  ("events", "event_id"), ("documents", "doc_id")):
        n = con.sql(
            f"SELECT COUNT(*) FROM read_parquet('{tmp_path}/{t}.parquet') "
            f"WHERE {pk} IS NULL").fetchone()[0]
        assert n == 0, f"{t}.{pk} must stay non-NULL"


def test_empty_dimension(tmp_path, sf_dir):
    """--empty truncates every table to zero rows with the driver
    schemas preserved (the reference's O9 empty-relation class,
    corpus-wide)."""
    gen_fixtures(str(tmp_path), seed=0, empty=True)
    for t in TABLES:
        got = pq.read_table(f"{tmp_path}/{t}.parquet")
        assert got.num_rows == 0, t
        ref = pq.read_schema(f"{sf_dir}/{t}.parquet")
        assert got.schema.names == ref.names, t
        for name in ref.names:
            assert (str(got.schema.field(name).type)
                    == str(ref.field(name).type)), f"{t}.{name}"


def test_compare_passes_on_both_empty(spark):
    """The compare layer's empty-frame contract: 0-vs-0 rows with
    matching columns passes regardless of the engines' empty-frame
    dtypes (the '0/0 rows differ' false alarm the --empty sweep hit)."""
    import pandas as pd

    from glue_parquet_splitter_spark.oracle import compare

    sdf = spark.createDataFrame([], "a string, n bigint")
    ok, msg = compare(sdf, pd.DataFrame({"a": [], "n": []}))
    assert ok, msg
    # column mismatch still fails on empty frames
    ok, _ = compare(sdf, pd.DataFrame({"a": [], "m": []}))
    assert not ok


def test_finite_vectors_contract_both_engines(spark, tmp_path):
    """finite_vectors and its oracle mirror keep the SAME vec_id set on
    the malformed shapes — the exact divergence class ADVICE r11 names
    (DuckDB list_sum skips NULL elements / NULLs on empty lists; Spark
    aggregate propagates NULL / 0.0 on empty arrays)."""
    import duckdb

    from glue_parquet_splitter_spark.operators.similarity import (
        finite_vectors,
        wf_embeddings_sql,
    )

    gen_fixtures(str(tmp_path), seed=0, malformed=True, nan=True)
    df = spark.read.parquet(f"{tmp_path}/embeddings.parquet")
    spark_ids = {r.vec_id for r in
                 finite_vectors(df).select("vec_id").collect()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{tmp_path}/embeddings.parquet')")
    oracle_ids = {r[0] for r in con.sql(
        f"SELECT vec_id FROM ({wf_embeddings_sql()})").fetchall()}
    assert spark_ids == oracle_ids
    # the planted malformed/non-finite rows are all excluded —
    # including the RAGGED vector (98), dropped by the modal-dim rule
    assert spark_ids.isdisjoint({91, 92, 93, 95, 96, 97, 98, 99})
    # declared-dim form agrees with the modal form on this corpus
    declared = {r.vec_id for r in
                finite_vectors(df, dim=64).select("vec_id").collect()}
    assert declared == spark_ids


def test_query_vs_oracle_on_hostile_data(spark, fuzz_dir):
    from glue_parquet_splitter_spark.oracle import run_one

    for name in ("filter_project", "agg_stats", "null_handling"):
        ok, msg = run_one(spark, fuzz_dir, name)
        assert ok, f"{name}: {msg}"


def test_dates_dimension(tmp_path):
    """--dates plants the extreme timestamps the base pool never has
    (pre-epoch with fractional seconds, year 1900, leap day,
    sub-second precision) while keeping the tie-storm property."""
    import duckdb

    gen_fixtures(str(tmp_path), seed=0, dates=True)
    con = duckdb.connect()
    q = lambda s: con.sql(s).fetchone()[0]  # noqa: E731
    ev = f"read_parquet('{tmp_path}/events.parquet')"
    assert q(f"SELECT COUNT(*) FROM {ev} WHERE ts < TIMESTAMP "
             "'1970-01-01'") > 0
    assert q(f"SELECT COUNT(*) FROM {ev} WHERE "
             "date_part('microsecond', ts) % 1000000 != 0") > 0
    assert q(f"SELECT COUNT(DISTINCT ts) FROM {ev}") <= 10  # ties kept
    od = f"read_parquet('{tmp_path}/orders.parquet')"
    assert q(f"SELECT COUNT(*) FROM {od} WHERE o_orderdate < TIMESTAMP "
             "'1970-01-01'") > 0
    li = f"read_parquet('{tmp_path}/lineitem.parquet')"
    assert q(f"SELECT COUNT(*) FROM {li} WHERE strftime(l_shipdate, "
             "'%m-%d') = '02-29'") > 0


def test_stream_events_guard_rewrite():
    """_guard_stream_events: every bare ``events`` relation reference
    reads through the validity-floor CTE; aliases, column names like
    ``n_events``/``event_type``, and existing WITH/WITH RECURSIVE
    prefixes all survive."""
    from glue_parquet_splitter_spark.queries import (
        STREAM_EVENTS_FLOOR, _guard_stream_events)

    out = _guard_stream_events(
        "SELECT n_events, event_type FROM events e JOIN events b "
        "ON b.user_id = e.user_id GROUP BY 1, 2")
    assert out.count("FROM events WHERE ts >=") == 1      # the CTE only
    assert "FROM ev_valid e" in out and "JOIN ev_valid b" in out
    assert "n_events" in out and "event_type" in out
    assert STREAM_EVENTS_FLOOR in out
    w = _guard_stream_events("WITH x AS (SELECT 1 FROM events) "
                             "SELECT * FROM x")
    assert w.upper().startswith("WITH EV_VALID AS")
    assert "FROM ev_valid)" in w
    r = _guard_stream_events("WITH RECURSIVE x AS (SELECT 1 FROM events) "
                             "SELECT * FROM x")
    assert r.upper().startswith("WITH RECURSIVE EV_VALID AS")


def test_events_stream_applies_validity_floor(spark, tmp_path):
    """events_stream drops pre-epoch event times at ingest — Spark's
    initial watermark is epoch 0, so such rows are late-from-birth in
    every stateful operator (--dates fuzz find); the guard makes the
    drop explicit and oracle-mirrored."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from glue_parquet_splitter_spark.streaming.windows import events_stream

    path = str(tmp_path / "events.parquet")
    ts = [np.datetime64("1969-12-31T23:59:59.999999", "us"),
          np.datetime64("2024-03-01T00:00:00", "us"),
          np.datetime64("1900-01-01T00:00:00", "us")]
    pq_.write_table(pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([1, 1, 1], pa.int64()),
        "event_type": pa.array(["a", "b", "c"], pa.string()),
        "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        "props": pa.array(["{}", "{}", "{}"], pa.string()),
    }), path)
    import tempfile
    import uuid

    stream = events_stream(spark, path).groupBy().count()
    name = "guard_" + uuid.uuid4().hex[:8]
    q = (stream.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_g_"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.table(name).collect()[0][0] == 1  # only the 2024 row


def test_full_outer_stream_join_null_keys(spark, tmp_path):
    """ENGINE FIND (--dates --nullkeys): Spark's stream-stream FULL
    OUTER join matches NULL equi-keys to each other — outer semantics
    forbid the IsNotNull inference on either side and the symmetric
    hash join's state-store key comparison is byte-level.  The
    engine's full-outer runner routes NULL-key rows around the join
    (run_full_outer_interval_stream), so two NULL-key events 30 s
    apart must come back UNMATCHED — one bare row per side per event —
    not paired."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from glue_parquet_splitter_spark.streaming.windows import (
        run_full_outer_interval_stream)

    path = str(tmp_path / "events.parquet")
    ts = [np.datetime64("2024-03-01T00:00:00", "us"),
          np.datetime64("2024-03-01T00:00:30", "us"),
          np.datetime64("2024-03-01T06:00:00", "us")]
    pq_.write_table(pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([None, None, 7], pa.int64()),
        "event_type": pa.array(["a", "a", "a"], pa.string()),
        "value": pa.array([1.0, 1.0, 1.0], pa.float64()),
        "props": pa.array(["{}", "{}", "{}"], pa.string()),
    }), path)
    rows = run_full_outer_interval_stream(spark, path).collect()
    pairs = [(r.event_a, r.event_b) for r in rows]
    assert (1, 2) not in pairs          # the spurious NULL=NULL match
    # each NULL-key event emits exactly one unmatched row per side
    # (events 1 and 2 are inside the finalized region; 3 anchors it)
    assert pairs.count((1, None)) == 1 and pairs.count((2, None)) == 1
    assert pairs.count((None, 1)) == 1 and pairs.count((None, 2)) == 1


def test_dupkeys_dimension(tmp_path):
    """--dupkeys violates PRIMARY-key uniqueness in every table: each
    gains duplicated-pk groups, at least one of them CONFLICTING (same
    pk, different attributes) — the double-delivered-batch shape no
    other dimension models — while schemas are preserved and the base
    generator stays byte-identical when the knob is off."""
    import duckdb

    from fuzz_oracle import _DUPKEY_SPECS

    (tmp_path / "dup").mkdir()
    (tmp_path / "base").mkdir()
    gen_fixtures(str(tmp_path / "dup"), seed=0, dupkeys=True)
    gen_fixtures(str(tmp_path / "base"), seed=0)
    con = duckdb.connect()
    for t, spec in _DUPKEY_SPECS.items():
        pk = ", ".join(spec["pk"])
        base_n = con.sql(
            f"SELECT COUNT(*) FROM read_parquet('{tmp_path}/base/{t}.parquet')"
        ).fetchone()[0]
        dup_n = con.sql(
            f"SELECT COUNT(*) FROM read_parquet('{tmp_path}/dup/{t}.parquet')"
        ).fetchone()[0]
        assert dup_n > base_n, f"{t}: no rows appended"
        groups = con.sql(
            f"SELECT COUNT(*) FROM (SELECT {pk} FROM "
            f"read_parquet('{tmp_path}/dup/{t}.parquet') "
            f"GROUP BY {pk} HAVING COUNT(*) > 1)").fetchone()[0]
        assert groups >= 2, f"{t}: no duplicated pk groups"
        # at least one conflicting duplicate: same pk, >1 distinct
        # value in some declared conflict column
        conflict_cols = [c for c in spec["conflict"]
                         if spec["conflict"][c] != "vec"]
        got_conflict = any(
            con.sql(
                f"SELECT COUNT(*) FROM (SELECT {pk} FROM "
                f"read_parquet('{tmp_path}/dup/{t}.parquet') GROUP BY {pk} "
                f"HAVING COUNT(DISTINCT {c}) > 1)").fetchone()[0] > 0
            for c in conflict_cols) if conflict_cols else True
        assert got_conflict, f"{t}: duplicates never conflict"
        # schema unchanged
        a = pq.read_schema(f"{tmp_path}/base/{t}.parquet")
        b = pq.read_schema(f"{tmp_path}/dup/{t}.parquet")
        assert a.equals(b), t


def test_finite_vectors_dedup_flag(spark, sf_dir, tmp_path):
    """The identity-contract skip path is CODE, not prose (VERDICT r13
    #5 / ADVICE r13): ``finite_vectors(dedup=False)`` must (a) drop
    the vec_id pk window from the plan entirely — the silver-layer
    caller pays zero for a contract its storage already enforces —
    and (b) be row-identical to the guarded form on an identity-clean
    corpus, while (c) the guarded default still collapses planted
    duplicates."""
    from glue_parquet_splitter_spark.operators.similarity import (
        finite_vectors,
    )

    clean = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    guarded = finite_vectors(clean)
    skipped = finite_vectors(clean, dedup=False)
    # (a) plan shape: no window / row_number in the skip path
    plan_skip = skipped._jdf.queryExecution().executedPlan().toString()
    plan_guard = guarded._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan_skip.lower()
    assert "window" not in plan_skip.lower()
    assert "row_number" in plan_guard.lower()
    # (b) identical rows on an identity-clean corpus
    a = sorted(r.vec_id for r in guarded.select("vec_id").collect())
    b = sorted(r.vec_id for r in skipped.select("vec_id").collect())
    assert a == b and len(a) > 0
    # (c) the guarded form still dedups a dirty corpus; the skip form
    # deliberately does not (dup vec_ids may be legitimate — ADVICE)
    gen_fixtures(str(tmp_path), seed=0, dupkeys=True)
    dirty = spark.read.parquet(f"{tmp_path}/embeddings.parquet")
    n_guard = finite_vectors(dirty).count()
    n_skip = finite_vectors(dirty, dedup=False).count()
    dd = finite_vectors(dirty).groupBy("vec_id").count()
    assert dd.filter("count > 1").count() == 0
    assert n_skip > n_guard


def test_dedup_order_key_clamp_both_engines(spark, tmp_path):
    """A finite-but-HUGE embedding component (|x|·1e6 beyond int64)
    passes finite_vectors, and before the ADVICE-r13 clamp its order
    key SATURATED under Spark's non-ANSI long cast while DuckDB's
    CAST raised a Conversion Error — crashing every wf_embeddings_sql
    oracle instead of diverging gracefully.  Both engines must now
    pick the SAME winner row."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from glue_parquet_splitter_spark.operators.similarity import (
        finite_vectors,
        wf_embeddings_sql,
    )

    huge = 9.9e13  # finite, |x*1e6| = 9.9e19 > int64 max
    rows = {
        "vec_id": pa.array([1, 1, 2], pa.int64()),
        # conflicting duplicate pk 1: one huge-component vector, one
        # ordinary one — the winner is decided BY the clamped key
        "embedding": pa.array(
            [[huge, 1.0], [0.5, 1.0], [-huge, 2.0]],
            pa.list_(pa.float32())),
        "label": pa.array([0, 1, 0], pa.int32()),
    }
    pq.write_table(pa.table(rows), f"{tmp_path}/embeddings.parquet")
    df = spark.read.parquet(f"{tmp_path}/embeddings.parquet")
    got = {(r.vec_id, r.label)
           for r in finite_vectors(df).select("vec_id", "label").collect()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{tmp_path}/embeddings.parquet')")
    want = {(r[0], r[1]) for r in con.sql(
        f"SELECT vec_id, label FROM ({wf_embeddings_sql()})").fetchall()}
    assert got == want and len(got) == 2

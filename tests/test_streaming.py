"""Streaming pipeline tests (M3): file-source split with checkpoint
incrementality, late-data append mode, stateful operator."""

import os
import shutil

import pandas as pd
import pytest

from glue_parquet_splitter_spark.streaming.split_stream import run_split_stream



def test_split_stream_incremental(tmp_path, spark, sample_data):
    """First drain processes the backlog; adding one file and re-running
    with the same checkpoint processes ONLY the new file — checkpoint
    replaces the reference's marker-set anti-join."""
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for d in ["20251107", "20251114"]:
        shutil.copy(f"{sample_data}/input/{d}.parquet", f"{in_dir}/{d}.parquet")

    out, markers, ckpt = (str(tmp_path / p) for p in ["out", "markers", "ckpt"])
    m1 = run_split_stream(spark, in_dir, out, markers, checkpoint_dir=ckpt)
    rows1 = sum(m["rows"] for m in m1)
    assert rows1 == 20_000

    # no new files → no new batches
    m2 = run_split_stream(spark, in_dir, out, markers, checkpoint_dir=ckpt)
    assert sum(m["rows"] for m in m2) == 0

    # one new file → exactly its rows processed
    shutil.copy(f"{sample_data}/input/20251121.parquet", f"{in_dir}/20251121.parquet")
    m3 = run_split_stream(spark, in_dir, out, markers, checkpoint_dir=ckpt)
    assert sum(m["rows"] for m in m3) == 10_000
    assert {os.path.basename(p) for m in m3 for p in m["inputs"]} == {"20251121.parquet"}

    # outputs are a readable partitioned layout covering all rows
    back = spark.read.parquet(out)
    assert back.count() == 30_000
    assert back.select("item_id").distinct().count() == 30


def test_split_stream_markers(tmp_path, spark, sample_data):
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    shutil.copy(f"{sample_data}/input/20251107.parquet", f"{in_dir}/20251107.parquet")
    out, markers, ckpt = (str(tmp_path / p) for p in ["out", "markers", "ckpt"])
    m = run_split_stream(spark, in_dir, out, markers, checkpoint_dir=ckpt)
    assert len(m) >= 1
    files = os.listdir(markers)
    assert all(f.startswith("batch-") and f.endswith(".json") for f in files)


def test_split_stream_marker_dir_uri(tmp_path, spark, monkeypatch):
    """A ``file://`` marker dir is a URI, not a relative local path: the
    marker lands under it and nothing is written to the working dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    pq.write_table(pa.table({"item_id": ["a", "b", "a"], "x": [1, 2, 3]}),
                   in_dir / "20250101.parquet")
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    m = run_split_stream(spark, str(in_dir), str(tmp_path / "out"),
                         f"file://{tmp_path}/mk",
                         checkpoint_dir=str(tmp_path / "ckpt"))
    assert [d["rows"] for d in m] == [3]
    assert os.path.isfile(tmp_path / "mk" / "batch-0.json")
    assert os.listdir(cwd) == []


def test_transform_with_state_user_stats(spark, sf_dir):
    """Spark 4 transformWithStateInPandas parity with the
    applyInPandasWithState runner (skips where pyspark's protobuf
    state protocol has no protobuf package to speak it)."""
    pytest.importorskip("google.protobuf")
    from glue_parquet_splitter_spark.streaming.stateful import (
        run_user_stats_stream,
        run_user_stats_tws_stream,
    )

    path = f"{sf_dir}/events.parquet"
    a = {r.user_id: (r.n_events, r.total_value)
         for r in run_user_stats_stream(spark, path).collect()}
    b = {r.user_id: (r.n_events, r.total_value)
         for r in run_user_stats_tws_stream(spark, path).collect()}
    assert a == b


def test_quota_sampler_state_order_independent():
    """The quota sampler's kept set must be a function of the event
    SET, not arrival ORDER: feeding the same events in two different
    micro-batch splits (and internal orders) produces identical state
    and identical final emission — the property that lets the batch
    row_number oracle grade the stream."""
    import pandas as pd

    from glue_parquet_splitter_spark.streaming.stateful import _update_quota

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)
            self.exists = True

    rows = [(100, 1, 1.0), (50, 2, 2.0), (75, 3, 3.0),
            (10, 4, 4.0), (60, 5, 5.0)]  # (ts_us, event_id, value)

    def run(batches):
        st = FakeState()
        last = None
        for batch in batches:
            pdf = pd.DataFrame(batch, columns=["ts_us", "event_id", "value"])
            last = list(_update_quota((7,), iter([pdf]), st))[-1]
        return st._v[:3], sorted(
            zip(last["event_id"], last["ts_us"], last["value"]))

    a = run([rows])                               # one batch
    b = run([rows[:2], rows[2:]])                 # split mid-stream
    c = run([list(reversed(rows[3:])), rows[:3]]) # reordered batches
    assert a == b == c
    # the kept set is the 3 earliest by (ts, id): events 4, 2, 5
    assert a[0] == ([4, 2, 5], [10, 50, 60], [4.0, 2.0, 5.0])


def test_quota_sampler_replayed_batch_is_idempotent():
    """ADVICE r9: under at-least-once delivery a micro-batch REPLAYED
    after checkpoint recovery must not let the same (ts_us, event_id)
    occupy two of the K slots and evict a legitimate event — the merge
    dedupes on the event identity, so state is a function of the event
    SET even when the feed repeats it."""
    import pandas as pd

    from glue_parquet_splitter_spark.streaming.stateful import _update_quota

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)
            self.exists = True

    rows = [(100, 1, 1.0), (50, 2, 2.0), (75, 3, 3.0)]
    late = [(60, 9, 9.0)]  # arrives AFTER the replay; must still win a slot

    def run(batches):
        st = FakeState()
        for batch in batches:
            pdf = pd.DataFrame(batch, columns=["ts_us", "event_id", "value"])
            list(_update_quota((7,), iter([pdf]), st))
        return st._v[:3]

    clean = run([rows, late])
    replayed = run([rows, rows, late])  # rows delivered twice
    assert clean == replayed
    # K=3 earliest by (ts, id): 2@50, 9@60, 3@75 — without the dedupe a
    # replayed copy of 2@50 or 3@75 would consume the slot 9 deserves
    assert clean[0] == [2, 9, 3]


def test_quota_sampler_dedups_conflicting_redelivery_per_event_id():
    """ADVICE r14: the state dedup key is event_id ALONE — the batch
    contract's identity key (operators.events.unique_events) — not
    (ts_us, event_id).  A duplicate event_id redelivered at a DIFFERENT
    ts must occupy ONE slot with the min-(ts, value) winner, matching
    the batch oracle's one row; under the old composite key it held two
    slots and evicted a legitimate third event."""
    import pandas as pd

    from glue_parquet_splitter_spark.streaming.stateful import _update_quota

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)
            self.exists = True

    # event 1 delivered twice with mutated ts AND value; events 2 and 3
    # are legitimate.  unique_events keeps (1@10, val 5.0) — min by
    # (ts, value) — so the kept K=3 must be 1@10, 2@20, 3@30.
    batches = [
        [(40, 1, 1.0), (20, 2, 2.0)],
        [(10, 1, 5.0), (30, 3, 3.0)],  # conflicting redelivery of 1
    ]

    def run(bs):
        st = FakeState()
        for batch in bs:
            pdf = pd.DataFrame(batch, columns=["ts_us", "event_id", "value"])
            list(_update_quota((7,), iter([pdf]), st))
        return st._v[:3]

    ids, tss, vals = run(batches)
    assert ids == [1, 2, 3]
    assert tss == [10, 20, 30]
    assert vals == [5.0, 2.0, 3.0]
    # arrival-order independence holds for the conflicting pair too
    assert run(list(reversed(batches))) == (ids, tss, vals)

"""Self-tests for the benchmark's own parts.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import threading

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
from spark_account import SparkAccount, parse_metric, totals  # noqa: E402
from trace import Span, Tracer, self_time  # noqa: E402

DAY = dt.date(2025, 1, 1)


def _bytes(paths):
    return [open(p, "rb").read() for p in paths]


def test_generator_is_deterministic_for_a_seed(tmp_path):
    a = gen.write_split_days(str(tmp_path / "a"), 7, DAY, 3, 500, 10, 0.5)
    b = gen.write_split_days(str(tmp_path / "b"), 7, DAY, 3, 500, 10, 0.5)
    c = gen.write_split_days(str(tmp_path / "c"), 8, DAY, 3, 500, 10, 0.5)
    assert _bytes(a) == _bytes(b)
    assert _bytes(a) != _bytes(c)
    sizes = dict(sf=0.001, documents=50, embeddings=20, events=100)
    t1, t2 = gen.query_tables(3, **sizes), gen.query_tables(3, **sizes)
    assert all(t1[k].equals(t2[k]) for k in t1)
    assert not t1["lineitem"].equals(gen.query_tables(4, **sizes)["lineitem"])


def test_generator_hot_key_share():
    keys = gen.split_day(1, DAY, 20_000, 30, 0.5).column("item_id").to_pylist()
    share = keys.count(f"{gen.HOT_KEY:010d}") / len(keys)
    assert 0.48 < share < 0.52


def test_self_time_on_nested_spans():
    spans = [
        Span("incremental.run", 0.0, 10.0, None, "r"),
        Span("splitter.job", 1.0, 4.0, 0, "r"),
        Span("splitter.job", 3.0, 6.0, 0, "r"),      # overlaps its sibling
        Span("python.worker", 2.0, 3.0, 1, "r"),
    ]
    got = self_time(spans)
    assert got == pytest.approx({"incremental": 5.0, "splitter": 4.0,
                                 "python": 1.0})
    assert sum(got.values()) == pytest.approx(10.0)


def test_tracer_nests_and_wraps():
    tr = Tracer()

    class Mod:
        @staticmethod
        def listing(n):
            return list(range(n))

    undo = tr.wrap(Mod, "listing", "incremental.listing", lambda out, a: len(out))
    with tr.span("incremental.run"):
        Mod.listing(4)
    undo()
    Mod.listing(1)
    assert [s.name for s in tr.spans] == ["incremental.run", "incremental.listing"]
    assert tr.spans[1].parent == 0 and tr.spans[1].count == 4


def test_parse_metric():
    assert parse_metric("1,234") == 1234
    assert parse_metric("464.3 KiB") == pytest.approx(464.3 * 1024)
    assert parse_metric("12 ms") == pytest.approx(0.012)
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "4.8 s (109 ms, 280 ms, 935 ms (stage 4.0: task 7))"
                        ) == pytest.approx(4.8)


def _write_outputs(in_path, out_dir, marker_dir):
    """What a correct split run leaves for one day."""
    date = os.path.basename(in_path)[: -len(".parquet")]
    df = pq.read_table(in_path).to_pandas()
    paths = []
    for key, g in df.groupby("item_id"):
        path = os.path.join(out_dir, key, f"{date}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(g, preserve_index=False), path)
        paths.append(path)
    os.makedirs(marker_dir, exist_ok=True)
    with open(os.path.join(marker_dir, f"{date}.json"), "w") as f:
        json.dump({"outputs": sorted(paths)}, f)
    return paths


def test_checker_flags_a_missing_output(tmp_path):
    in_path = gen.write_split_days(str(tmp_path / "in"), 1, DAY, 1, 300, 5)[0]
    out, marks = str(tmp_path / "out"), str(tmp_path / "markers")
    paths = _write_outputs(in_path, out, marks)
    expected = checks.expected_split([in_path])
    assert checks.check_split(expected, out, marks) == []
    os.remove(paths[2])
    for content in (None, set()):  # checksummed, or footer row counts only
        problems = checks.check_split(expected, out, marks, content)
        assert len(problems) == 1 and "missing output" in problems[0]


def test_checker_flags_changed_content(tmp_path):
    in_path = gen.write_split_days(str(tmp_path / "in"), 1, DAY, 1, 300, 5)[0]
    out, marks = str(tmp_path / "out"), str(tmp_path / "markers")
    paths = _write_outputs(in_path, out, marks)
    df = pq.read_table(paths[0]).to_pandas()
    df.loc[0, "sales_figures"] += 1
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), paths[0])
    problems = checks.check_split(checks.expected_split([in_path]), out, marks)
    assert len(problems) == 1 and "wrong content" in problems[0]


def test_benchmark_json_matches_the_runner():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == run.PER_LAYER
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert all(m["unit"] == run.unit_of(m["name"]) for m in spec["per_layer"])


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_a_two_job_call_is_attributed_two_jobs(spark):
    sc = spark.sparkContext
    sc.parallelize(range(10), 2).count()      # before the window
    acct = SparkAccount(spark)
    acct.mark()
    sc.parallelize(range(10), 2).count()
    # a job from a worker thread belongs to the window too
    t = threading.Thread(target=lambda: sc.parallelize(range(10), 3).sum())
    t.start()
    t.join()
    jobs, _ = acct.read()
    got = totals(jobs)
    assert got["jobs"] == 2
    assert got["tasks"] == 5
    assert all(j["start"] <= j["end"] for j in jobs)

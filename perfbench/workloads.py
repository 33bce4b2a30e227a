"""The workloads.  Each drives the engine through its public entry points
only; ``call`` is one closed-loop request from the single client.

A workload object:

- ``prepare()`` writes its seeded inputs (not timed);
- ``call(spark, i, tr)`` does one unit of work and returns a record with
  ``seconds`` (its wall time), ``ok`` and what ``check`` needs; with a
  tracer ``tr`` it also records spans;
- ``check(rec)`` returns the problems found in that call's outputs;
- ``layers(rec, spans)`` gives the per-layer figures the workload itself
  knows (file counts, listing and marker spans) for a traced call.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import nullcontext

import checks
import gen
from params import FIRST_DAY, WORKLOADS


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _span(tr, name: str):
    return nullcontext() if tr is None else tr.span(name)


class _Workload:
    # untimed calls after the engine starts.  The JIT is still compiling
    # after the cold call: the call after it runs 10-25 % slower than the
    # ones that follow.
    warm_calls = 2
    # a run times at least this many calls, whatever ``--seconds`` says
    min_calls = 3
    # once per run, untimed, after the timed calls: (checks, problems)
    check_run = None

    def __init__(self, work: str, seed: int, trace: bool = False):
        self.work, self.seed, self.trace = work, seed, trace
        self.p = WORKLOADS[self.name]


class Backlog(_Workload):
    """Catch-up over a fresh backlog.  One ``run_incremental`` call is the
    request: listing, scheduling and markers run in the driver, the
    parity writer (Python workers) in the Spark job it starts.  Every call
    starts from no outputs.  In a traced run each call then also drains
    the same files through ``run_split_stream`` (Spark's native
    partitioned writer) and runs ``compact_dataset`` on the stream's
    Hive-layout output (read, rewrite, verify, swap), so those layers get
    their per-layer figures."""

    name = "backlog"

    def prepare(self) -> None:
        p = self.p
        self.in_dir = os.path.join(self.work, "in")
        in_paths = gen.write_split_days(
            self.in_dir, self.seed, FIRST_DAY, p["days"], p["rows_per_day"],
            p["keys"], p["hot_share"])
        self.rows = p["days"] * p["rows_per_day"]
        self.expected = checks.expected_split(in_paths)
        self.want = checks.key_counts(in_paths)
        self.in_bytes = checks.tree_bytes(self.in_dir)

    def _run(self, spark, out_dir, marker_dir, tr):
        from glue_parquet_splitter_spark.pipeline import incremental

        undo = [] if tr is None else [
            tr.wrap(incremental, "list_file_status",
                    "incremental.list_file_status", lambda out, a: len(out)),
            tr.wrap(incremental, "list_files", "incremental.list_files",
                    lambda out, a: len(out)),
            tr.wrap(incremental, "write_marker", "incremental.write_marker",
                    lambda out, a: len(json.dumps(a[1], ensure_ascii=False)
                                       .encode())),
        ]
        try:
            with _span(tr, "incremental.run_incremental"):
                return incremental.run_incremental(spark, self.name,
                                                   self.in_dir, out_dir,
                                                   marker_dir)
        finally:
            for u in undo:
                u()

    def call(self, spark, i, tr=None) -> dict:
        out = _fresh(os.path.join(self.work, "out"))
        marks = _fresh(os.path.join(self.work, "markers"))
        t0 = time.perf_counter()
        res = self._run(spark, out, marks, tr)
        sec = time.perf_counter() - t0
        # each call checksums every third day's files and reads the row
        # counts of the rest, so three calls checksum every file
        dates = sorted(self.expected)
        rec = {"seconds": sec, "ok": res["processed_days"] == self.p["days"],
               "out": out, "markers": marks, "content": set(dates[i % 3::3]),
               "files_written": checks.tree_files(out),
               "write_amp": checks.tree_bytes(out, marks) / self.in_bytes}
        if self.trace:
            rec.update(self._stream_compact(spark, tr))
            rec["seconds"] = time.perf_counter() - t0
        return rec

    def _stream_compact(self, spark, tr) -> dict:
        from glue_parquet_splitter_spark.pipeline.compact import compact_dataset
        from glue_parquet_splitter_spark.streaming.split_stream import \
            run_split_stream

        stream = os.path.join(self.work, "stream")
        s_out, s_marks = _fresh(f"{stream}/out"), _fresh(f"{stream}/markers")
        ckpt = _fresh(f"{stream}/checkpoint")
        t0 = time.perf_counter()
        with _span(tr, "split_stream.run_split_stream"):
            docs = run_split_stream(spark, self.in_dir, s_out, s_marks,
                                    checkpoint_dir=ckpt)
        t1 = time.perf_counter()
        stream_files = checks.tree_files(s_out)
        stream_bytes = checks.tree_bytes(s_out, s_marks)
        t2 = time.perf_counter()
        with _span(tr, "compact.compact_dataset"):
            summary = compact_dataset(spark, s_out,
                                      partition_by=["batch", "item_id"])
        t3 = time.perf_counter()
        return {"stream_s": t1 - t0, "compact_s": t3 - t2,
                "stream_ok": (sum(d["rows"] for d in docs) == self.rows
                              and summary["rows"] == self.rows),
                "stream_out": s_out, "summary": summary,
                "stream_files": stream_files,
                # the data files compaction wrote in place of the stream's
                "bytes_rewritten": checks.tree_bytes(s_out, suffix=".parquet"),
                "stream_write_amp": stream_bytes / self.in_bytes}

    def check(self, rec) -> list[str]:
        problems = checks.check_split(self.expected, rec["out"],
                                      rec["markers"], rec["content"])
        if self.trace:
            if not rec["stream_ok"]:
                problems.append("stream or compaction row count differs")
            problems += checks.check_compacted(self.want, rec["stream_out"])
        return problems

    def layers(self, rec, spans) -> dict:
        # list_files calls list_file_status: count the outer span only
        listing = [s for s in spans if s.name.startswith("incremental.list")
                   and (s.parent is None or not
                        spans[s.parent].name.startswith("incremental.list"))]
        marks = [s for s in spans if s.name == "incremental.write_marker"]
        run = next(s for s in spans if s.name == "incremental.run_incremental")
        s = rec["summary"]
        return {
            "incremental.wall_s": run.end - run.start,
            "incremental.list_s": sum(x.end - x.start for x in listing),
            "incremental.files_listed": sum(x.count for x in listing),
            "incremental.marker_write_s": sum(x.end - x.start for x in marks),
            "incremental.markers_written": len(marks),
            "incremental.marker_bytes": sum(x.count for x in marks),
            "splitter.files_written": rec["files_written"],
            "split_stream.files_written": rec["stream_files"],
            "compact.files_before": s["files_before"],
            "compact.files_after": s["files_after"],
            "compact.bytes_rewritten": rec["bytes_rewritten"],
            "compact.wall_s": rec["compact_s"],
            "store.write_amp": rec["write_amp"],
            "store.stream_write_amp": rec["stream_write_amp"],
        }


class Queries(_Workload):
    """One pass over a fixed registry mix, each query materialized to the
    ``noop`` sink.  Read-only: no writer or marker code runs."""

    name = "queries"

    def prepare(self) -> None:
        self.sf_dir = os.path.join(self.work, "tables")
        gen.write_query_tables(self.sf_dir, self.seed, **self.p["tables"])

    def call(self, spark, i, tr=None) -> dict:
        from glue_parquet_splitter_spark.queries import load_all_modules

        reg, per_query = load_all_modules(), {}
        t0 = time.perf_counter()
        with _span(tr, "queries.pass"):
            for name in self.p["mix"]:
                tq = time.perf_counter()
                with _span(tr, f"queries.{name}.build"):
                    df = reg[name].fn(spark, self.sf_dir)
                with _span(tr, f"queries.{name}.materialize"):
                    df.write.format("noop").mode("overwrite").save()
                per_query[name] = time.perf_counter() - tq
        return {"seconds": time.perf_counter() - t0, "ok": True,
                "per_query": per_query}

    def check(self, rec) -> list[str]:
        return []  # outputs go to the noop sink; see check_run

    def check_run(self, spark) -> tuple[int, list[str]]:
        """The oracle compare, once per run and untimed: DuckDB where the
        spec has an oracle, else a row count."""
        from glue_parquet_splitter_spark import oracle

        problems = []
        for name in self.p["mix"]:
            ok, msg = oracle.run_one(spark, self.sf_dir, name)
            if not ok:
                problems.append(f"{name}: {msg}")
        return len(self.p["mix"]), problems

    def layers(self, rec, spans) -> dict:
        return {f"queries.{n}_s": s for n, s in rec["per_query"].items()}


WORKLOAD_CLASSES = {c.name: c for c in (Backlog, Queries)}

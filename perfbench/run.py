"""Benchmark entry point: one workload, one seed, one process, one client.

    python3 perfbench/run.py --workload backlog --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced calls: the traced ones record spans and read Spark's
status store, and give the per-layer metrics and the tracing overhead.
Earlier stdout lines are a readable summary; the last line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.

Everything the run writes lies under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from params import WORKLOADS, launch_env  # noqa: E402

END_TO_END = {"setup_s": "s", "call_p50_s": "s"}

_SPARK_SET = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "python_run_s", "python_init_s",
              "python_bytes_sent", "python_bytes_returned", "task_skew")
PER_LAYER = [
    "session.get_spark_s", "session.first_action_s", "session.warm_call_s",
    "incremental.list_s", "incremental.files_listed",
    "incremental.marker_write_s", "incremental.markers_written",
    "incremental.marker_bytes", "incremental.driver_gap_s",
    "incremental.wall_s",
    *(f"splitter.{k}" for k in _SPARK_SET), "splitter.files_written",
    *(f"queries.{k}" for k in _SPARK_SET), "queries.driver_gap_s",
    *(f"queries.{q}_s" for q in WORKLOADS["queries"]["mix"]),
    "split_stream.batches", "split_stream.add_batch_s",
    "split_stream.query_planning_s", "split_stream.wal_commit_s",
    "split_stream.executor_cpu_s", "split_stream.files_written",
    "compact.files_before", "compact.files_after", "compact.executor_cpu_s",
    "compact.bytes_rewritten", "compact.driver_gap_s", "compact.wall_s",
    "proc.peak_rss_mb", "proc.jvm_rss_mb", "proc.python_workers",
    "proc.python_rss_mb",
    "store.write_amp", "store.stream_write_amp",
    *(f"self.{layer}_s" for layer in ("incremental", "splitter", "queries",
                                      "operators", "split_stream", "compact")),
    "trace.overhead_pct",
]
PER_LAYER_UNITS = {"_s": "s", "_mb": "MB", "_pct": "%"}

# Spark jobs run the code of the layer below the driver span that
# started them
JOB_LAYER = {"incremental": "splitter", "queries": "operators"}


def unit_of(name: str) -> str:
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    if "bytes" in name:
        return "B"
    return "ratio" if name.endswith(("write_amp", "task_skew")) else "count"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class StreamProgress:
    """Benchmark-side StreamingQueryListener: keeps every progress event
    and counts terminated queries (events arrive asynchronously)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.events, self.terminated = [], 0
        self._lock = threading.Lock()  # events arrive on a py4j thread

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with outer._lock:
                    outer.events.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._lock:
                    outer.terminated += 1

        spark.streams.addListener(_L())

    def drain(self, terminated: int, timeout: float = 10.0) -> list:
        """Wait until ``terminated`` queries have ended; return and clear
        the progress events."""
        deadline = time.time() + timeout
        while self.terminated < terminated and time.time() < deadline:
            time.sleep(0.01)
        with self._lock:
            out, self.events = self.events, []
        return out


def stream_layers(events: list, tr, parent: int, span) -> dict:
    """Listener figures of the non-empty batches that started within
    ``span``; each becomes a span under the span number ``parent``.
    Events of streams run by earlier calls are left out."""
    from datetime import datetime

    out = {"split_stream.batches": 0, "split_stream.add_batch_s": 0.0,
           "split_stream.query_planning_s": 0.0,
           "split_stream.wal_commit_s": 0.0}
    for p in events:
        d = p.durationMs
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        t0 = start.timestamp()
        if p.numInputRows == 0 or not span.start <= t0 <= span.end:
            continue
        out["split_stream.batches"] += 1
        out["split_stream.add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["split_stream.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
        out["split_stream.wal_commit_s"] += d.get("walCommit", 0) / 1e3
        tr.add("split_stream.batch", t0,
               t0 + d.get("triggerExecution", 0) / 1e3, parent)
    return out


def traced_layers(wl, rec, tr, jobs, py, events) -> dict:
    """Per-layer metrics of one traced call."""
    from spark_account import totals, union_length
    from trace import self_time

    spans = tr.current()
    depth = []
    for s in spans:
        depth.append(0 if s.parent is None else depth[s.parent] + 1)
    # each job goes under the deepest driver span open at its submission
    by_layer: dict[str, list] = {}
    for j in jobs:
        if j["start"] is None or j["end"] is None:
            continue
        parent = max((i for i, s in enumerate(spans)
                      if s.start <= j["start"] <= s.end),
                     key=depth.__getitem__, default=0)
        layer = JOB_LAYER.get(spans[parent].layer, spans[parent].layer)
        tr.add(f"{layer}.job", j["start"], j["end"], parent)
        by_layer.setdefault(layer, []).append(j)
    out = dict(wl.layers(rec, spans))
    if events is not None:
        k = next(i for i, s in enumerate(spans)
                 if s.name == "split_stream.run_split_stream")
        out.update(stream_layers(events, tr, k, spans[k]))
    spans = tr.current()

    def gap(name, layer_jobs):
        span = next(s for s in spans if s.name == name)
        covered = [(max(j["start"], span.start), min(j["end"], span.end))
                   for j in layer_jobs
                   if j["end"] > span.start and j["start"] < span.end]
        return span.end - span.start - union_length(covered)

    def spark_set(layer):
        return {f"{layer}.{k}": v for k, v in
                {**totals(by_layer.get(JOB_LAYER.get(layer, layer), [])),
                 **py}.items()}

    if wl.name == "queries":
        out.update(spark_set("queries"))
        out["queries.driver_gap_s"] = gap("queries.pass",
                                          by_layer.get("operators", []))
    else:
        # the stream and the compaction start no Python workers, so the
        # window's Python-worker metrics are the parity writer's
        out.update(spark_set("splitter"))
        out["incremental.driver_gap_s"] = gap("incremental.run_incremental",
                                              by_layer.get("splitter", []))
    if wl.name == "backlog":
        out["split_stream.executor_cpu_s"] = totals(
            by_layer.get("split_stream", []))["executor_cpu_s"]
        out["compact.executor_cpu_s"] = totals(
            by_layer.get("compact", []))["executor_cpu_s"]
        out["compact.driver_gap_s"] = gap("compact.compact_dataset",
                                          by_layer.get("compact", []))
    out.update({f"self.{k}_s": v for k, v in self_time(spans).items()})
    return out


def start_engine(app: str):
    """One cold start: ``get_spark`` launches the JVM with its own
    launch-time confs (driver memory among them) and builds the session,
    then a first action runs.  Returns the session and the phase times."""
    from glue_parquet_splitter_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=app)
    t1 = time.perf_counter()
    spark.range(10).count()
    t2 = time.perf_counter()
    return spark, {"get_spark_s": t1 - t0, "first_action_s": t2 - t1,
                   "setup_s": t2 - t0}


def stop_engine(jvm_pid: int | None) -> None:
    """Stop Spark, end the JVM, and wait for every process below it."""
    from pyspark import SparkContext

    from trace import descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    pids = descendants(jvm_pid)
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def main() -> int:
    from workloads import WORKLOAD_CLASSES

    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_CLASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    sys.path.insert(0, ROOT)
    spec = importlib.util.find_spec("glue_parquet_splitter_spark")
    if spec is None or not os.path.abspath(spec.origin).startswith(ROOT + os.sep):
        log(f"error: the engine package is not in {ROOT}")
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(launch_env(ROOT, work), PYSPARK_PYTHON=sys.executable)
    os.chdir(work)  # the warehouse dir and any Derby files land here
    try:
        return run(a, work, WORKLOAD_CLASSES[a.workload](work, a.seed,
                                                      bool(a.trace)))
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def run(a, work: str, wl) -> int:
    from pyspark import SparkContext

    from spark_account import SparkAccount
    from trace import RssSampler, Tracer

    t_prep = time.perf_counter()
    wl.prepare()
    log(f"[prepare] {time.perf_counter() - t_prep:.2f}s")
    jvm_pid = None
    try:
        spark, t = start_engine(f"perfbench-{a.workload}")
        jvm_pid = SparkContext._gateway.proc.pid
        log("[setup] get_spark {get_spark_s:.2f}s "
            "first action {first_action_s:.2f}s".format(**t))
        sampler = RssSampler(jvm_pid).start()
        t0 = time.perf_counter()
        i = 0
        for i in range(1, wl.warm_calls + 1):
            wl.call(spark, i)  # untimed, on the workload's own input
        warm = time.perf_counter() - t0
        setup = {"setup_s": t["setup_s"] + warm,
                 "session.get_spark_s": t["get_spark_s"],
                 "session.first_action_s": t["first_action_s"],
                 "session.warm_call_s": warm}
        log(f"[warm] {wl.warm_calls} calls {warm:.2f}s")

        tr = Tracer() if a.trace else None
        acct = SparkAccount(spark) if a.trace else None
        stream = (StreamProgress(spark)
                  if a.trace and a.workload == "backlog" else None)
        records, problems, failed = [], [], 0
        n, deadline = 0, time.perf_counter() + a.seconds
        while time.perf_counter() < deadline or n < wl.min_calls:
            i, n = i + 1, n + 1
            traced = bool(a.trace) and n % 2 == 0
            if traced:
                tr.begin(f"call-{i}")
                acct.mark()
                ended = stream.terminated if stream else 0
            try:
                rec = wl.call(spark, i, tr if traced else None)
            except Exception as e:  # a failed call counts, the run goes on
                log(traceback.format_exc())
                failed += 1
                problems.append(f"call {i}: {type(e).__name__}: {e}")
                continue
            if traced:
                jobs, py = acct.read()
                events = stream.drain(ended + 1) if stream else None
                rec["layers"] = traced_layers(wl, rec, tr, jobs, py, events)
            rec["traced"] = traced
            bad = ([] if rec["ok"] else ["unexpected call summary"]) + wl.check(rec)
            failed += bool(bad)
            problems += [f"call {i}: {p}" for p in bad[:3]]
            records.append(rec)
        log(f"[measure] {n} calls in "
            f"{time.perf_counter() - deadline + a.seconds:.2f}s")
        # after the timed calls, so that they follow the warm calls at once
        checked, bad = wl.check_run(spark) if wl.check_run else (0, [])
        attempted, failed = n + checked, failed + len(bad)
        problems += bad
        sampler.stop()
        if tr is not None:
            os.makedirs(os.path.join(os.path.dirname(work), "traces"),
                        exist_ok=True)
            tr.dump(os.path.join(os.path.dirname(work), "traces",
                                 f"{a.workload}-s{a.seed}.json"))
    finally:
        stop_engine(jvm_pid)

    for p in problems[:20]:
        log(f"[check] {p}")
    untraced = [r for r in records if not r["traced"]]
    secs = [r["seconds"] for r in untraced]
    e2e = {"setup_s": setup["setup_s"], "call_p50_s": statistics.median(secs)}

    def med(key):
        return statistics.median(r[key] for r in untraced)

    summary = {**{k: (v, END_TO_END[k]) for k, v in e2e.items()},
               "peak_rss_mb": (sampler.peak_total_mb, "MB"),
               "error_rate": (failed / attempted, "ratio")}
    if a.workload == "backlog":
        summary.update(
            backlog_rows_per_s=(wl.rows / e2e["call_p50_s"], "1/s"),
            write_amp=(med("write_amp"), "ratio"))
        if a.trace:
            summary.update(stream_s=(med("stream_s"), "s"),
                           compact_s=(med("compact_s"), "s"),
                           stream_write_amp=(med("stream_write_amp"), "ratio"))
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "calls": len(untraced),
                      "call_s": [round(s, 4) for s in secs],
                      "summary": {k: {"value": v, "unit": u}
                                  for k, (v, u) in summary.items()}}))
    if a.trace:
        traced = [r["layers"] for r in records if r["traced"]]
        layers = {k: statistics.median(t.get(k, 0.0) for t in traced)
                  for k in PER_LAYER}
        layers.update({k: v for k, v in setup.items() if k in layers})
        layers.update({"proc.peak_rss_mb": sampler.peak_total_mb,
                       "proc.jvm_rss_mb": sampler.peak_jvm_mb,
                       "proc.python_workers": sampler.peak_py_workers,
                       "proc.python_rss_mb": sampler.peak_py_mb})
        t_med = statistics.median(r["seconds"] for r in records if r["traced"])
        layers["trace.overhead_pct"] = 100 * (t_med / e2e["call_p50_s"] - 1)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Workload sizes and the pinned launch environment.

One place for every number the benchmark runs with, so a run can be
reproduced from the seed and this file alone.
"""

from __future__ import annotations

import datetime as dt
import os

# Driver memory for the one local JVM: room for the largest workload
# while leaving most of a 15 GB host to everything else.
DRIVER_MEM = "3g"

WORKLOADS = {
    # catch-up over a fresh backlog: row-dominated, the hot key's
    # Python-worker task sets the parity writer's time; traced runs also
    # send the same files through the stream's native writer and
    # compaction
    "backlog": {"days": 10, "rows_per_day": 100_000, "keys": 30,
                "hot_share": 0.5},
    # read-only registry mix at a small scale: scan and aggregation, a
    # six-way join, session windows and a pair self-join
    "queries": {"tables": {"sf": 0.15, "documents": 1_000,
                           "embeddings": 1_000, "events": 100_000},
                "mix": ["q1_pricing_summary", "q5_region_revenue",
                        "session_window_agg", "exact_substring_spans"]},
}

# the date of the backlog's first day file
FIRST_DAY = dt.date(2025, 1, 1)


def cpus() -> int:
    """``nproc``: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def launch_env(root: str, work: str) -> dict[str, str]:
    """Environment the engine is launched with.  Every path the JVM or
    the Python workers write to lies under ``work``."""
    tmp = os.path.join(work, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": root,
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
    }

"""Cluster-safe lineage cuts and concurrent arms (VERDICT r15 #1).

Several query paths compute a table that feeds MULTIPLE consumers in
one plan (a classifier feature table read by both weight training and
inference; a tokenizer word table read by every EM round; a multimodal
fingerprint table read by every dedup consumer).  Left as lineage, the
subtree re-executes once per consumer; :func:`stage_table` cuts it.

``localCheckpoint`` is the right primitive ONLY on a local master: it
pins blocks to executor storage with NO fault tolerance, so on a
cluster one lost executor fails the job instead of recomputing lineage
(optimization guide §5).  Three modes, chosen by
:func:`session.is_local_master` and Spark's checkpoint dir:

- **local master** (``local``, ``local[N]``, ``local[*]``,
  ``local[N,F]``) → ``localCheckpoint`` — instance-scoped, recomputed
  per invocation (never ``.cache()``: the cache manager plan-matches
  across invocations, which would be cross-run reuse).  Plans show
  ``Scan ExistingRDD``.
- **cluster with a checkpoint dir** → ``DataFrame.checkpoint``, a
  reliable checkpoint whose blocks live on the checkpoint filesystem
  and survive executor loss.  The one setting is
  ``spark.checkpoint.dir`` on shared storage (or
  ``sc.setCheckpointDir``).
- **cluster without one** → the lineage is left UNCUT (the subtree
  recomputes per consumer): slower, but correct and fault-tolerant,
  and a one-time warning names the setting.  Iterative callers
  (connected-components rounds, EM/BPE training loops) pass
  ``must_cut=True`` because an uncut loop grows the plan without
  bound — they fall back to ``localCheckpoint`` instead.

:func:`run_concurrently` is the one way independent arms (separate
jobs that read nothing the others write) are submitted side by side.
"""

from __future__ import annotations

import sys
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from .session import is_local_master

_WARNED = False


def _stage_mode(master: str | None, checkpoint_dir: str | None) -> str:
    """Pure decision kernel (unit-tested without a cluster): which cut
    applies for this (master, checkpoint-dir) pair."""
    if is_local_master(master):
        return "local"
    if checkpoint_dir:
        return "reliable"
    return "uncut"


def stage_table(df: DataFrame, label: str = "stage",
                eager: bool = False, must_cut: bool = False) -> DataFrame:
    """Cut ``df``'s lineage so multi-consumer plans execute it once.

    Local masters get ``localCheckpoint``; cluster masters a reliable
    checkpoint when Spark has a checkpoint dir, else no cut and a
    warning.  ``must_cut=True`` (iterative callers whose plan grows
    without bound when uncut) falls back to ``localCheckpoint`` on a
    cluster without a checkpoint dir instead of leaving the lineage
    uncut.  ``label`` names the call site in that warning."""
    global _WARNED
    try:
        sc = df.sparkSession.sparkContext
        master = sc.master
    except Exception:
        # connect-style sessions expose no sparkContext; there is no
        # executor-pinned storage to lose, and no localCheckpoint —
        # leave the plan uncut rather than guess
        return df
    mode = _stage_mode(master, sc.getCheckpointDir())
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        return df.checkpoint(eager=eager)
    if must_cut:
        return df.localCheckpoint(eager=eager)
    if not _WARNED:
        _WARNED = True
        print(f"stage_table({label!r}): cluster master {master!r} with no "
              "spark checkpoint dir — leaving lineage uncut (reused "
              "subtrees recompute per consumer); set "
              "spark.checkpoint.dir to shared storage to restore the "
              "single-execution stage",
              file=sys.stderr)
    return df


def run_concurrently(spark: SparkSession,
                     arms: dict[str, Callable[[], Any]]) -> dict[str, Any]:
    """Run independent arms side by side; return their results by key,
    in ``arms`` order.

    Spark schedules concurrent jobs FIFO, so the next arm's tasks
    back-fill executors freed by the current arm's straggler tail
    (optimization guide §2.6).  Each arm runs in its own thread that
    inherits the caller's job group, tags and local properties, and
    the arm's key becomes the description of the jobs it starts."""
    def run(key: str, arm: Callable[[], Any]) -> Any:
        spark.sparkContext.setJobDescription(key)
        return arm()

    # one wrapper per arm, made on the caller's thread: each holds its
    # own copy of the caller's local properties, so one arm's
    # description never leaks into another's
    with ThreadPoolExecutor(max_workers=len(arms)) as pool:
        futures = {key: pool.submit(inheritable_thread_target(spark)(run),
                                    key, arm)
                   for key, arm in arms.items()}
        return {key: f.result() for key, f in futures.items()}

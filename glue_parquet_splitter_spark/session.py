"""SparkSession factory with scale-aware defaults.

Defaults are tuned so the same code runs on local[N] for tests and on a
large cluster unchanged: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), UTC session time zone (deterministic date/ts
semantics vs the DuckDB oracle), Arrow enabled for the Pandas-UDF slow
path.
"""

from __future__ import annotations

import os
import re
import sys

from pyspark.sql import SparkSession


def is_local_master(master: str | None) -> bool:
    """True for the single-JVM masters ``local``, ``local[N]``,
    ``local[*]`` and ``local[N,F]``; false for ``local-cluster[...]``
    (separate executor JVMs), cluster URLs and ``None``."""
    return master is not None and re.fullmatch(
        r"local(\[([0-9]+|\*)(\s*,\s*[0-9]+)?\])?", master) is not None


# Session-level confs that must hold even when the caller (e.g. the
# verification driver) built the SparkSession itself.  All of these are
# runtime-settable SQL confs.
_RUNTIME_CONFS = {
    # The events fixture stores TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects by default; read as long and convert (catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Pinned, not assumed (ADVICE r15): the CDC chunker parity contract
    # (the NumPy chunker raises on n_chars > len(text) exactly where
    # the expression twin's ANSI element_at does) depends on ANSI mode.
    # Spark 4 defaults to true, so this is a no-op locally; pinning it
    # keeps the two chunker arms from drifting on deployments that
    # disable ANSI globally.
    "spark.sql.ansi.enabled": "true",
    # AQE's runtime-safe shuffled-hash join conversion: convert a
    # planned SMJ to shuffled-hash when every post-shuffle partition
    # is MEASURED (not estimated) below the advisory partition size —
    # default 0 disables the rewrite entirely.  Scale-agnostic: the
    # per-partition build memory is bounded by partition sizing, which
    # AQE manages.  (optimization guide §3.1)
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
}

# Let the STATIC planner pick shuffled-hash join where its size
# conditions hold instead of always sort-merge (guide §3.1/§9): SMJ
# pays two full sorts a hash join skips; r15 measured 10 join-heavy
# bench entries 27.5 s -> 20.5 s at sf0.1 (exact_substring_spans
# 9.3 s -> 3.0 s), and the r16 interleaved A/B cleared all four
# suspected outliers (plan-identical or <=9 % noise).  Scoped to
# LOCAL masters (ADVICE r15): the static flip decides from size
# ESTIMATES, and an SHJ build side cannot spill — on a cluster a
# misestimated/skewed build partition OOMs an executor where SMJ
# would spill.  Clusters keep the AQE rewrite above (measured sizes,
# runtime-safe); SPARK_GRAFT_PLANNER_SHJ=1 opts a cluster session in
# after its skew profile is known.
_LOCAL_ONLY_JOIN_CONFS = {
    "spark.sql.join.preferSortMergeJoin": "false",
}


def _join_confs(master: str | None) -> dict:
    override = os.environ.get("SPARK_GRAFT_PLANNER_SHJ")
    if override is not None:
        allow = override not in ("0", "false", "")
        return {"spark.sql.join.preferSortMergeJoin":
                "false" if allow else "true"}
    if is_local_master(master):
        return dict(_LOCAL_ONLY_JOIN_CONFS)
    return {}


# Local fixtures are small single files; a smaller split size keeps
# all cores busy on scans (16m left the 10.8 MB sf0.1 lineitem in 3
# splits and q1 ~70% slower than at 4m, BENCH_r03 drift).  Applied ONLY
# on local[*] masters: at 100 TB a 4 MB split size would mean ~25M scan
# tasks, so cluster sessions keep Spark's 128 MB default unless
# SPARK_GRAFT_MAX_PARTITION_BYTES explicitly overrides it (the submit
# package's cluster profile sets 128m for the same reason).
_LOCAL_ONLY_DEFAULTS = {
    "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
}


def _split_size_confs(master: str | None) -> dict:
    override = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    if override:
        return {"spark.sql.files.maxPartitionBytes": override}
    if is_local_master(master):
        return dict(_LOCAL_ONLY_DEFAULTS)
    return {}


_PYFILE_SESSIONS: set = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers regardless of the
    driver's cwd/PYTHONPATH: zip it once and addPyFile it (workers get
    the zip on their sys.path; also correct on a real cluster, where
    executors share nothing with the driver's filesystem layout)."""
    key = id(spark.sparkContext)
    if key in _PYFILE_SESSIONS:
        return
    try:
        # spark-submit --py-files already delivered the package: adding
        # our own zip of the same basename makes executor file-fetch
        # fail on content mismatch — the deployed artifact wins
        sconf = spark.sparkContext.getConf()
        shipped = ",".join(
            sconf.get(k, "") or ""
            for k in ("spark.submit.pyFiles", "spark.files", "spark.archives"))
        if "glue_parquet_splitter_spark" in shipped:
            _PYFILE_SESSIONS.add(key)
            return
    except Exception:
        pass
    import tempfile
    import zipfile

    try:
        # fresh per-process zip: a fixed /tmp path would re-ship stale
        # code after source edits (and collide across users)
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zpath = os.path.join(tempfile.mkdtemp(prefix="gps_pkg_"),
                             "glue_parquet_splitter_spark.zip")
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        z.write(full, rel)
        spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # e.g. connect-only sessions; closures must then be self-contained
    _PYFILE_SESSIONS.add(key)


# A reused PySpark worker calls importlib.invalidate_caches() at the
# start of every task (pyspark/worker_util.py, setup_spark_files).  On
# CPython < 3.13 that makes every cached zipimporter re-parse its whole
# archive's central directory, once per importer: pyspark.zip (1,328
# entries) once for each of its ~12 subpackage importers, the
# spark-core jar on the worker PYTHONPATH (5,359 entries) and the py4j
# zip twice each, and this package's own zip from _ship_package.  On
# CPython 3.11.7 (4-core host) that took 251 ms of every task before
# its function started.  CPython 3.13 made the re-read lazy
# (gh-103200), so the guard stops there.

def guard_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives whose file
    has not changed (same inode, ``st_mtime_ns`` and ``st_size``) since
    an importer last read its directory at that same stamp: the
    importer takes that read's directory instead of re-parsing the
    archive.  A changed, replaced or vanished archive, or one whose
    cached directory someone else replaced, still goes through the
    original method.  Idempotent; a no-op on CPython >= 3.13.

    Python workers only: the package ``__init__`` installs it when a
    Spark task is running, never on the driver.
    """
    if sys.version_info >= (3, 13):
        return
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "skips_unchanged_archives", False):
        return
    reads: dict = {}  # archive path -> (stamp, directory read at it)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        seen = reads.get(self.archive)
        if (stamp is not None and seen is not None and seen[0] == stamp
                and zipimport._zip_directory_cache.get(self.archive)
                is seen[1]):
            self._files = seen[1]
            return
        # stat before the read: an archive rewritten during it keeps
        # the older stamp and is read again next time
        original(self)
        # a failed read empties the cache entry, so it never matches
        reads[self.archive] = (stamp, self._files)

    invalidate_caches.skips_unchanged_archives = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set the confs this engine relies on onto an existing session."""
    try:
        master = spark.sparkContext.master
    except Exception:  # e.g. connect sessions expose no sparkContext
        master = None
    confs = {**_RUNTIME_CONFS, **_split_size_confs(master),
             **_join_confs(master)}
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable in this build — best effort.
            pass
    _ship_package(spark)
    return spark


def _default_driver_mem() -> str:
    """Half the memory this process may use, capped at 64g: the lower of
    the host's physical memory and the cgroup limit (v2 ``memory.max``
    or v1 ``memory.limit_in_bytes``), so a container is sized by its own
    limit, not by its host's RAM.

    In local mode the driver heap is the whole cluster, but a ``-Xmx``
    above the usable memory lets G1 grow the heap until the OOM killer
    takes the JVM (a 64g heap on a 16 GB host died mid-suite).
    """
    limits = []
    try:
        limits.append(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    except (ValueError, OSError, AttributeError):  # no sysconf here
        pass
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                limits.append(int(f.read()))
        except (OSError, ValueError):  # absent, or "max" (no limit)
            pass
    if not limits:
        return "64g"
    return f"{max(1024, min(64 * 1024, (min(limits) >> 20) // 2))}m"


def get_spark(app_name: str = "glue_parquet_splitter_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured — on a real cluster the
    submitter's master wins.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        # local mode: the driver JVM is the whole cluster — give it room
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or _default_driver_mem())
    )
    for k, v in {**_RUNTIME_CONFS, **_split_size_confs(master),
                 **_join_confs(master)}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)

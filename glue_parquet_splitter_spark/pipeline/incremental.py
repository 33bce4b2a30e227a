"""Incremental marker-driven driver (reference parity, M1).

Reproduces the reference's lifecycle
(/root/reference/src/Split/parquet-splitter.py:117-196):

1. list ``<in>/*.parquet`` and ``<markers>/*.json``        (O2)
2. extract YYYYMMDD dates from basenames                   (O3/O4)
3. work set = input_dates − done_dates, sorted             (O5 anti-join)
4. per missing day: read → guard → split by key → write    (O7-O16)
5. commit a JSON marker listing all outputs                (O18)

Listing uses the Hadoop FileSystem API so the same code handles
``file://``, ``hdfs://`` and ``s3a://``.  The scheduling set-difference
runs driver-side on listings (metadata, thousands of entries — the same
place Spark's own file index does this work); the *data* path is fully
distributed.  Error taxonomy preserved: missing file → warn+skip, empty
file → info+skip, missing key column → hard fail, any write failure →
day fails before its marker is written (so a crash is safely re-run).
"""

from __future__ import annotations

import json
import logging
import time

from pyspark.sql import SparkSession

from .splitter import require_columns, split_day

log = logging.getLogger(__name__)


def list_files(spark: SparkSession, directory: str, suffix: str) -> list[str]:
    """List files under ``directory`` with ``suffix`` (Hadoop FS — any scheme)."""
    return sorted(list_file_status(spark, directory, suffix))


def list_file_status(spark: SparkSession, directory: str,
                     suffix: str) -> dict[str, str]:
    """Map path → content fingerprint (``<length>:<mtimeMs>``) for files
    under ``directory`` with ``suffix`` — one Hadoop FS listing, no data
    read.  Size+mtime is the same change signal object stores expose
    cheaply (S3 ETag semantics without a GET per object)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(directory)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return {}
    out: dict[str, str] = {}
    it = fs.listFiles(hpath, False)
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        if p.endswith(suffix):
            out[p] = f"{st.getLen()}:{st.getModificationTime()}"
    return out


def extract_dates(keys: list[str], suffix: str) -> set[str]:
    """Basename minus suffix → date key set (dedup via set)."""
    dates: set[str] = set()
    for k in keys:
        base = k.rsplit("/", 1)[-1]
        if base.endswith(suffix):
            dates.add(base[: -len(suffix)])
    return dates


def _changed_days(in_status: dict[str, str], marker_keys: list[str],
                  candidate_dates: set[str]) -> set[str]:
    """Marked days whose input fingerprint no longer matches the marker.

    Reads one small JSON per *marked* day (metadata scale, same order
    as the listing itself).  A marker without ``input_fingerprint``
    (pre-feature history) is treated as current.
    """
    from .splitter import resolve_fs

    fp_by_date = {k.rsplit("/", 1)[-1][: -len(".parquet")]: v
                  for k, v in in_status.items()}
    changed: set[str] = set()
    for mk in marker_keys:
        date = mk.rsplit("/", 1)[-1][: -len(".json")]
        if date not in candidate_dates:
            continue
        try:
            filesystem, fs_path = resolve_fs(mk)
            with filesystem.open_input_stream(fs_path) as f:
                doc = json.loads(f.read().decode("utf-8"))
        except Exception as e:  # unreadable marker → leave the day alone
            log.warning("unreadable marker %s (%s)", mk, e)
            continue
        recorded = doc.get("input_fingerprint")
        if recorded is not None and recorded != fp_by_date.get(date):
            changed.add(date)
    return changed


def gc_manifest_runs(spark: SparkSession, marker_dir: str) -> int:
    """Delete counts-mode manifest run dirs no current marker references.

    Every counts-mode backlog run writes ``_manifests/run-<id>/`` and a
    reopened day re-points its marker at a NEW run dir — without
    collection the old dirs accrue forever (unbounded metadata growth).
    A run dir survives iff at least one marker's ``outputs_manifest``
    points inside it; everything else under ``_manifests/`` is dropped.

    Metadata-scale work: one listing of run dirs + one small JSON read
    per marker (the same order as the scheduler's own listing).  Safe
    to run after every backlog pass — a marker is committed before the
    pass returns, so a referenced dir can never look orphaned.  Assumes
    the single-writer driver model the marker protocol already requires
    (a concurrent writer's un-marked run could be swept; don't run two
    drivers against one marker_dir).
    """
    from .splitter import resolve_fs

    base = f"{marker_dir.rstrip('/')}/_manifests"
    jvm = spark._jvm
    base_path = jvm.org.apache.hadoop.fs.Path(base)
    fs = base_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(base_path):
        return 0
    run_dirs = {
        st.getPath().toString(): st.getModificationTime()
        for st in fs.listStatus(base_path)
        if st.isDirectory() and st.getPath().getName().startswith("run-")
    }
    if not run_dirs:
        return 0
    referenced: set[str] = set()
    # a marker is written AFTER the run dir it references, so an
    # unreadable (corrupt/in-flight) marker can only reference run dirs
    # no newer than itself: keep those conservatively, keep collecting
    # everything else.  (Previously ONE bad marker returned 0 here and
    # silently disabled GC — the unbounded-growth problem it exists to
    # fix — forever.)
    bad_marker_mtime: int | None = None
    n_unreadable = 0
    for mk in list_files(spark, marker_dir, ".json"):
        try:
            filesystem, fs_path = resolve_fs(mk)
            with filesystem.open_input_stream(fs_path) as f:
                doc = json.loads(f.read().decode("utf-8"))
        except Exception as e:  # unreadable marker → keep its era's runs
            n_unreadable += 1
            try:
                mt = fs.getFileStatus(
                    jvm.org.apache.hadoop.fs.Path(mk)).getModificationTime()
            except Exception:
                log.warning("gc: unreadable marker %s (%s) and its mtime "
                            "is unreadable too; skipping gc this pass",
                            mk, e)
                return 0
            bad_marker_mtime = max(bad_marker_mtime or 0, mt)
            log.warning("gc: unreadable marker %s (%s); keeping run dirs "
                        "not newer than it", mk, e)
            continue
        om = doc.get("outputs_manifest")
        if om:
            # outputs_manifest = <run_dir>/date=<d> — keep the run dir.
            # Qualify through the same FS so a scheme-less marker path
            # ("/tmp/…") matches the listing's qualified form
            # ("file:/tmp/…") — an unqualified compare would sweep
            # every live run dir.
            run = om.rstrip("/").rsplit("/", 1)[0]
            referenced.add(
                fs.makeQualified(jvm.org.apache.hadoop.fs.Path(run))
                .toString())
    removed = 0
    for d in sorted(set(run_dirs) - referenced):
        if bad_marker_mtime is not None and run_dirs[d] <= bad_marker_mtime:
            continue  # possibly referenced by an unreadable marker
        fs.delete(jvm.org.apache.hadoop.fs.Path(d), True)
        removed += 1
    if removed or n_unreadable:
        log.info("gc: removed %d orphaned manifest run dir(s)"
                 " (%d unreadable marker(s) protected older runs)",
                 removed, n_unreadable)
    return removed


def write_marker(marker_path: str, doc: dict) -> None:
    """Commit a JSON marker (driver-side; any pyarrow-supported FS)."""
    from .splitter import resolve_fs

    filesystem, fs_path = resolve_fs(marker_path)
    filesystem.create_dir(fs_path.rsplit("/", 1)[0], recursive=True)
    with filesystem.open_output_stream(fs_path) as f:
        f.write(json.dumps(doc, ensure_ascii=False).encode("utf-8"))


def run_incremental(spark: SparkSession, kind: str, in_dir: str, out_dir: str,
                    marker_dir: str, key: str = "item_id",
                    exact_layout: bool = True,
                    manifest: str = "outputs",
                    reprocess_changed: bool = False) -> dict:
    """Process every not-yet-marked day; returns the summary dict the
    reference's ``process_kind`` returns (parquet-splitter.py:190-196).

    ``manifest`` selects how the per-day marker records its outputs:

    - ``"outputs"`` (default, reference parity): the marker embeds the
      full sorted output-path list.  The list is collected to the
      driver — fine at reference shape (tens of keys/day), the wrong
      thing at millions of keys/day.
    - ``"counts"``: executors write per-day manifest files (JSON lines,
      ``<marker_dir>/_manifests/date=<d>/``) as part of the split job
      itself; the driver aggregates only one count row per day in-plan
      and the marker stores ``outputs_manifest`` (the manifest
      directory) + ``output_count``.  No driver-side per-key list at
      any scale.  All other marker fields are identical.

    ``reprocess_changed``: the reference reprocesses a late row only if
    its whole day-file reappears unmarked (SURVEY §2); with this flag a
    *marked* day is reopened when its input file's fingerprint
    (size:mtime, recorded in the marker at commit time) no longer
    matches the listing — the late-data answer for the batch pipeline.
    Markers written before fingerprints existed are treated as current
    (no reprocessing storm on historic days).
    """
    t0 = time.perf_counter()
    in_status = list_file_status(spark, in_dir, ".parquet")
    in_keys = sorted(in_status)
    marker_keys = list_files(spark, marker_dir, ".json")
    log.info("[list] inputs=%d markers=%d elapsed=%.2fs",
             len(in_keys), len(marker_keys), time.perf_counter() - t0)

    input_dates = extract_dates(in_keys, ".parquet")
    done_dates = extract_dates(marker_keys, ".json")
    missing = input_dates - done_dates
    if reprocess_changed:
        changed = _changed_days(in_status, marker_keys,
                                input_dates & done_dates)
        if changed:
            log.info("[%s] reopening %d changed day(s): %s", kind,
                     len(changed), sorted(changed)[:10])
        missing |= changed
    missing_dates = sorted(missing)
    log.info("[%s] input=%d done=%d missing=%d", kind,
             len(input_dates), len(done_dates), len(missing_dates))

    fp_by_date = {p.rsplit("/", 1)[-1][: -len(".parquet")]: v
                  for p, v in in_status.items()}
    processed = 0
    if missing_dates and exact_layout:
        processed = _process_batched(spark, kind, in_dir, out_dir, marker_dir,
                                     missing_dates, key, manifest=manifest,
                                     fingerprints=fp_by_date)
        if processed is None:  # batch read failed → day-by-day (skips bad days)
            processed = _process_day_by_day(spark, kind, in_dir, out_dir,
                                            marker_dir, missing_dates, key,
                                            exact_layout, fp_by_date,
                                            manifest=manifest)
    else:
        processed = _process_day_by_day(spark, kind, in_dir, out_dir,
                                        marker_dir, missing_dates, key,
                                        exact_layout, fp_by_date,
                                        manifest=manifest)

    if manifest == "counts":
        # reclaim run dirs orphaned by reopened days / historic runs
        gc_manifest_runs(spark, marker_dir)

    return {
        "kind": kind,
        "input_files": len(input_dates),
        "output_files": len(done_dates),
        "missing_dates": missing_dates,
        "processed_days": processed,
    }


def _process_day_by_day(spark: SparkSession, kind: str, in_dir: str,
                        out_dir: str, marker_dir: str,
                        missing_dates: list[str], key: str,
                        exact_layout: bool,
                        fingerprints: dict[str, str] | None = None,
                        manifest: str = "outputs") -> int:
    """One day per Spark job — the resilient path (a bad file skips
    only its own day, matching the reference's error taxonomy).

    ``manifest="counts"`` keeps the scale guarantee here too: each
    day's per-key manifest is written from the executors and only ONE
    count crosses to the driver — a batch-read failure no longer
    silently degrades a counts-mode run to driver-side output lists
    (and marker schemas stay uniform across days).
    """
    fingerprints = fingerprints or {}
    counts_mode = manifest == "counts" and exact_layout
    if manifest == "counts" and not exact_layout:
        # hive-layout days emit ONE output dir per day — nothing to
        # keep off the driver; the marker still uses the counts schema
        log.info("[%s] manifest='counts' with exact_layout=False: "
                 "single-dir outputs, no per-key manifest needed", kind)
    run_dir = None
    if counts_mode:
        import uuid as _uuid

        run_dir = (f"{marker_dir.rstrip('/')}/_manifests/"
                   f"run-{_uuid.uuid4().hex[:12]}")
    processed = 0
    for date in missing_dates:
        in_path = f"{in_dir.rstrip('/')}/{date}.parquet"
        try:
            df = spark.read.parquet(in_path)
            empty = df.isEmpty()  # corrupt files surface here, not at read()
        except Exception as e:  # missing/corrupt input → skip+warn
            log.warning("[%s] unreadable: %s (%s)", kind, in_path, e)
            continue
        if empty:
            log.info("[%s] empty: %s", kind, in_path)
            continue
        require_columns(df, [key])  # write failures below still propagate

        stamp = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        marker_path = f"{marker_dir.rstrip('/')}/{date}.json"
        if counts_mode:
            from pyspark.sql import functions as F

            from .splitter import split_day_manifest

            day_dir = f"{run_dir}/date={date}"
            clean = df.filter(F.col(key).isNotNull())
            (split_day_manifest(clean, out_dir, date, key=key)
             .write.mode("overwrite").json(day_dir))
            # explicit schema: a day whose rows were all null-keyed
            # leaves an EMPTY manifest dir, and schema inference would
            # throw 'Unable to infer schema' and abort the whole run —
            # with the schema pinned it counts as 0 and the marker
            # still commits (parity with outputs-mode's empty list)
            n = spark.read.schema("out_path string, rows long") \
                .json(day_dir).count()  # one number to driver
            write_marker(marker_path, {
                "kind": kind,
                "date": date,
                "input_key": in_path,
                "input_fingerprint": fingerprints.get(date),
                "outputs_manifest": day_dir,
                "output_count": n,
                "generated_at": stamp,
            })
            log.info("[OK] %s %s: %d outputs (manifest mode)", kind, date, n)
        else:
            outputs = split_day(df, out_dir, date, key=key,
                                exact_layout=exact_layout)
            marker = {
                "kind": kind,
                "date": date,
                "input_key": in_path,
                "input_fingerprint": fingerprints.get(date),
                "outputs": outputs,
                "output_count": len(outputs),
                "generated_at": stamp,
            }
            if manifest == "counts":  # non-exact layout: uniform schema
                marker["outputs_manifest"] = None
                del marker["outputs"]
            write_marker(marker_path, marker)
            log.info("[OK] %s %s: %d outputs", kind, date, len(outputs))
        processed += 1
    return processed


def _spark_file_name(spark: SparkSession, path: str) -> str:
    """The basename Spark reports for ``path`` in ``_metadata.file_name``:
    the URI-encoded form (``2025 01%01.parquet`` → ``2025%2001%2501.parquet``)."""
    uri = spark._jvm.org.apache.hadoop.fs.Path(path).toUri()
    return uri.getRawPath().rsplit("/", 1)[-1]


def _has_rows(kind: str, path: str) -> bool:
    """Footer check for a day that wrote no outputs: True when its rows
    were all null-keyed (commit an empty marker), False when it is empty
    (O9 skip) or has become unreadable (warn+skip; retried next run)."""
    from .splitter import parquet_num_rows

    try:
        return parquet_num_rows(path) > 0
    except (OSError, ValueError) as e:  # missing, or not parquet
        log.warning("[%s] unreadable: %s (%s)", kind, path, e)
        return False


def _process_batched(spark: SparkSession, kind: str, in_dir: str, out_dir: str,
                     marker_dir: str, missing_dates: list[str],
                     key: str, manifest: str = "outputs",
                     fingerprints: dict[str, str] | None = None) -> int | None:
    """Process ALL missing days in one Spark job.

    The reference loops day-by-day (parquet-splitter.py:144); on Spark
    that pays per-job overhead per day. Reading every backlog file in
    one scan and fanning out with a single ``groupBy(key, file)``
    Arrow writer amortizes scheduling to one job regardless of backlog
    depth — the catch-up semantics and the per-day marker documents are
    unchanged.  The day of a row is its file's listing key, looked up
    per group from ``_metadata.file_name``.  Markers commit after the
    whole batch succeeds: a crash mid-batch leaves no markers, so the
    re-run redoes those days (output overwrite keeps that safe — same
    recovery contract as the reference, :159-160 in SURVEY.md).

    A day whose rows are all null-keyed writes no outputs, yet must
    commit an empty marker (day-by-day parity) or it is re-batched
    forever; a truly EMPTY day must stay unmarked (the O9 skip).  The
    scan cannot tell the two apart, so after the job each day without
    outputs gets one footer read of its row count.
    """
    from pyspark.sql import functions as F

    from .splitter import resolve_fs, split_groups

    base = in_dir.rstrip("/")
    # missing_dates derive from the listing, so the files exist; no
    # per-file probe needed (the reference's NoSuchKey guard covers a
    # list/get race — here the batch read's own error handling does).
    in_paths = {date: f"{base}/{date}.parquet" for date in missing_dates}
    try:
        df = spark.read.parquet(*in_paths.values())
    except Exception as e:
        log.warning("[%s] batch read failed (%s); falling back day-by-day", kind, e)
        return None  # caller runs the per-day loop, which skips bad days
    require_columns(df, [key])
    # keyed by Spark's URI-encoded file name, valued by the listing's
    # date key: outputs and markers must carry the listing's key, or an
    # escaped name would mis-name them and reprocess forever
    date_by_file = {_spark_file_name(spark, p): d for d, p in in_paths.items()}
    # null-key rows dropped (reference parity — pandas groupby dropna)
    manifest_df = split_groups(df.filter(F.col(key).isNotNull()), out_dir,
                               key, date_by_file)

    stamp = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    if manifest == "counts":
        # Scale mode: the manifest itself is data — write it from the
        # executors (one job: the Arrow fan-out feeds the JSON manifest
        # write directly), then aggregate ONE count row per day
        # in-plan.  The driver never holds a per-key list.  The
        # manifest dir is run-scoped so the read-back below is bounded
        # by THIS backlog, not by all history; a day's manifest stays
        # immutable once its marker references it.
        import uuid as _uuid

        run_dir = (f"{marker_dir.rstrip('/')}/_manifests/"
                   f"run-{_uuid.uuid4().hex[:12]}")
        try:
            (manifest_df.repartition("date")
             .write.mode("overwrite").partitionBy("date").json(run_dir))
        except Exception as e:
            log.warning("[%s] batch job failed (%s); falling back day-by-day",
                        kind, str(e)[:200])
            return None
        # partition-column inference would re-type date=20250101 as a
        # long (and 2025-01-01 as a DATE), corrupting the marker key —
        # read the partition column verbatim.  The schema is pinned for
        # the same reason as the day-by-day read: a backlog whose rows
        # were ALL null-keyed leaves a manifest dir with no data files,
        # and inference would abort the run.
        infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = spark.conf.get(infer_key, "true")
        spark.conf.set(infer_key, "false")
        try:
            counts = {
                r["date"]: r["count"] for r in
                spark.read.schema("date string, out_path string")
                .json(run_dir).groupBy("date").count()
                .collect()  # one row per day
            }
        finally:
            spark.conf.set(infer_key, prev)
        escape = (spark._jvm.org.apache.spark.sql.catalyst.catalog
                  .ExternalCatalogUtils.escapePathName)
        for date in missing_dates:
            # the partition dir as Spark named it (it escapes '%', ':',
            # '=' ... in partition values)
            day_dir = f"{run_dir}/date={escape(date)}"
            if date not in counts:
                if not _has_rows(kind, in_paths[date]):
                    continue  # no marker: retried next run
                # all rows null-keyed: an empty manifest dir, as the
                # day-by-day path leaves
                filesystem, fs_path = resolve_fs(day_dir)
                filesystem.create_dir(fs_path, recursive=True)
                counts[date] = 0
            n = counts[date]
            write_marker(f"{marker_dir.rstrip('/')}/{date}.json", {
                "kind": kind,
                "date": date,
                "input_key": in_paths[date],
                "input_fingerprint": (fingerprints or {}).get(date),
                "outputs_manifest": day_dir,
                "output_count": n,
                "generated_at": stamp,
            })
            log.info("[OK] %s %s: %d outputs (manifest mode)", kind, date, n)
        return len(counts)

    try:
        rows = manifest_df.collect()
    except Exception as e:
        # a corrupt/unreadable file fails at EXECUTION, not at the lazy
        # read above — fall back day-by-day so good days still process.
        # No markers were written; partial outputs are overwrite-safe.
        log.warning("[%s] batch job failed (%s); falling back day-by-day",
                    kind, str(e)[:200])
        return None
    by_date: dict[str, list[str]] = {}
    for r in rows:  # one row per (key, day) output object
        by_date.setdefault(r.date, []).append(r.out_path)

    processed = 0
    for date in missing_dates:
        if date not in by_date and not _has_rows(kind, in_paths[date]):
            continue  # no marker: retried next run
        outputs = sorted(by_date.get(date, []))  # [] = all rows null-keyed
        write_marker(f"{marker_dir.rstrip('/')}/{date}.json", {
            "kind": kind,
            "date": date,
            "input_key": in_paths[date],
            "input_fingerprint": (fingerprints or {}).get(date),
            "outputs": outputs,
            "output_count": len(outputs),
            "generated_at": stamp,
        })
        log.info("[OK] %s %s: %d outputs", kind, date, len(outputs))
        processed += 1
    return processed

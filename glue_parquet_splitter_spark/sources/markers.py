"""Custom Python data source: the split pipeline's marker protocol as
a queryable table.

``spark.read.format("split_markers").load(marker_dir)`` turns the
per-day commit markers (reference parquet-splitter.py:107-114 marker
JSON, one small object per processed day) into rows — the input to an
operations dashboard: backlog lag, per-day output counts, fingerprint
drift, manifest pointers.  Built on the Spark 4 Python DataSource API
(``pyspark.sql.datasource``) — the extension point for sources Spark
has no built-in reader for; demonstrated here on the engine's own
metadata protocol.

Scale shape: the driver only LISTS the marker dir (metadata, same
order as the scheduler's own listing) and hands each executor a chunk
of marker paths; the JSON parsing runs distributed in ``read``.  Both
marker schemas are normalized: ``outputs`` mode yields its embedded
list's length, ``counts`` mode the recorded count + manifest pointer.

The WRITE path (``df.write.format("split_markers").save(dir)``,
``MarkerWriter``) completes the connector: executors stage temp files,
and only the driver's commit renames them visible — two-phase, so a
failed or speculated task never publishes a marker.
"""

from __future__ import annotations

import json

from pyspark.sql.datasource import (
    SimpleDataSourceStreamReader,
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

SCHEMA = ("kind string, date string, input_key string, "
          "input_fingerprint string, output_count bigint, "
          "outputs_manifest string, generated_at string")

_FILES_PER_PARTITION = 64


def _marker_names(marker_dir: str) -> list[str]:
    """Sorted ``*.json`` base names in ``marker_dir`` (driver-side
    metadata listing only)."""
    from pyarrow.fs import FileSelector

    from ..pipeline.splitter import resolve_fs

    filesystem, fs_path = resolve_fs(marker_dir)
    infos = filesystem.get_file_info(
        FileSelector(fs_path, recursive=False, allow_not_found=True))
    return sorted(i.base_name for i in infos
                  if i.base_name.endswith(".json"))


def _marker_rows(marker_dir: str, names: list[str]):
    """One SCHEMA row per marker name; both marker schemas normalize
    to ``output_count`` (``outputs`` mode: its list's length)."""
    from ..pipeline.splitter import resolve_fs

    # one resolve per call, from the ORIGINAL scheme-carrying
    # marker_dir — the same filesystem the driver listed with
    filesystem, dir_path = resolve_fs(marker_dir)
    for name in names:
        with filesystem.open_input_stream(
                f"{dir_path.rstrip('/')}/{name}") as f:
            doc = json.loads(f.read().decode("utf-8"))
        count = doc.get("output_count")
        if count is None and doc.get("outputs") is not None:
            count = len(doc["outputs"])
        yield (
            doc.get("kind"),
            doc.get("date"),
            doc.get("input_key"),
            doc.get("input_fingerprint"),
            count,
            doc.get("outputs_manifest"),
            doc.get("generated_at"),
        )


class _MarkerPartition(InputPartition):
    def __init__(self, names: list[str]):
        # marker BASE NAMES, not listed paths: pyarrow's FileInfo.path
        # is scheme-less (e.g. 'bucket/markers/x.json' for s3://), so a
        # listed path re-resolved on an executor would fall back to the
        # local filesystem.  Executors re-resolve marker_dir itself —
        # the same string the driver resolved — and join the base name.
        self.names = names


class MarkerDataSource(DataSource):
    """``format("split_markers")`` — marker dir → one row per day."""

    @classmethod
    def name(cls) -> str:
        return "split_markers"

    def schema(self) -> str:
        return SCHEMA

    def writer(self, schema, overwrite: bool) -> "MarkerWriter":
        path = self.options.get("path")
        if not path:
            raise ValueError("split_markers writer needs a path (save(dir))")
        return MarkerWriter(path, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "MarkerStreamWriter":
        path = self.options.get("path")
        if not path:
            raise ValueError("split_markers stream writer needs a path")
        return MarkerStreamWriter(path)

    def reader(self, schema) -> "MarkerReader":
        path = self.options.get("path")
        if not path:
            raise ValueError("split_markers requires a path: "
                             ".load('<marker_dir>')")
        return MarkerReader(path)


class MarkerReader(DataSourceReader):
    def __init__(self, marker_dir: str):
        self.marker_dir = marker_dir

    def partitions(self) -> list[_MarkerPartition]:
        # file CONTENT is read on executors, chunked so a million
        # marked days still fan out
        names = _marker_names(self.marker_dir)
        chunks = [names[i:i + _FILES_PER_PARTITION]
                  for i in range(0, len(names), _FILES_PER_PARTITION)]
        return [_MarkerPartition(c) for c in chunks] or [_MarkerPartition([])]

    def read(self, partition: _MarkerPartition):
        return _marker_rows(self.marker_dir, partition.names)


class _MarkerWriteCommit(WriterCommitMessage):
    def __init__(self, pairs: list):
        self.pairs = pairs  # [(tmp_name, final_name)] written by one task


class MarkerWriter(DataSourceWriter):
    """Two-phase marker sink: tasks write ``.<date>.json.<id>.tmp``
    files and report them in commit messages; only the DRIVER's
    ``commit`` renames them to their visible ``<date>.json`` names, so
    a failed/speculated task never publishes a half-written marker —
    the same marker-last discipline the split pipeline itself follows
    (reference parquet-splitter.py:175-186: marker only after all
    outputs).  ``abort`` deletes the temporaries."""

    def __init__(self, marker_dir: str, overwrite: bool):
        import uuid

        self.marker_dir = marker_dir
        # Per-JOB token, minted once at write-planning time and shipped
        # to every task inside the pickled writer: temps are named
        # .<date>.json.<job_token>.<task_id>.tmp, so abort() can sweep
        # exactly this job's orphans — two overlapping jobs (a violated
        # single-writer assumption) no longer delete each other's temps
        # (ADVICE r8).
        self.job_token = uuid.uuid4().hex[:8]
        from ..pipeline.splitter import resolve_fs

        filesystem, dir_path = resolve_fs(marker_dir)
        filesystem.create_dir(dir_path, recursive=True)
        # Overwrite must NOT delete anything here: __init__ runs at
        # write-planning time on the driver, before any task has
        # staged a byte — deleting now would let a failed job destroy
        # previously committed markers.  Record what exists; commit()
        # deletes only the stale ones (not re-written) AFTER all
        # renames, preserving the "only commit publishes" discipline.
        self._stale_on_commit: list[str] = []
        if overwrite:
            from pyarrow.fs import FileSelector

            self._stale_on_commit = [
                info.base_name
                for info in filesystem.get_file_info(
                    FileSelector(dir_path, allow_not_found=True))
                if info.base_name.endswith(".json")
            ]

    def write(self, iterator) -> "_MarkerWriteCommit":
        import uuid

        from ..pipeline.splitter import resolve_fs

        filesystem, dir_path = resolve_fs(self.marker_dir)
        base = dir_path.rstrip("/")
        pairs = []
        staged: list[str] = []  # every temp NAME, recorded before the
        # stream opens — so the cleanup below also removes a temp whose
        # open/write failed mid-stream (a pairs-only sweep would orphan
        # that partially-written file forever)
        try:
            for row in iterator:
                if row.date is None:
                    raise ValueError("marker row without a date")
                doc = {
                    "kind": row.kind,
                    "date": row.date,
                    "input_key": row.input_key,
                    "input_fingerprint": row.input_fingerprint,
                    "output_count": row.output_count,
                    "outputs_manifest": row.outputs_manifest,
                    "generated_at": row.generated_at,
                }
                tmp = (f".{row.date}.json.{self.job_token}."
                       f"{uuid.uuid4().hex[:8]}.tmp")
                staged.append(tmp)
                with filesystem.open_output_stream(f"{base}/{tmp}") as f:
                    f.write(json.dumps(doc, sort_keys=True).encode("utf-8"))
                pairs.append((tmp, f"{row.date}.json"))
        except Exception:
            # The Python DataSource API has no task-level abort, and the
            # driver's abort() only sees commit messages from SUCCESSFUL
            # tasks — so a task failing mid-write (good rows staged, bad
            # row raises) must clean its own temps before re-raising, or
            # they'd be orphaned forever.
            for tmp in staged:
                try:
                    filesystem.delete_file(f"{base}/{tmp}")
                except OSError:
                    pass
            raise
        return _MarkerWriteCommit(pairs)

    def commit(self, messages) -> None:
        from ..pipeline.splitter import resolve_fs

        filesystem, dir_path = resolve_fs(self.marker_dir)
        base = dir_path.rstrip("/")
        written = set()
        for m in messages:
            for tmp, final in m.pairs:
                filesystem.move(f"{base}/{tmp}", f"{base}/{final}")
                written.add(final)
        # overwrite semantics, deferred from __init__: drop markers that
        # predate this job and were not re-written — only now that every
        # staged temp has been published
        for stale in self._stale_on_commit:
            if stale not in written:
                try:
                    filesystem.delete_file(f"{base}/{stale}")
                except OSError:
                    pass  # already gone — deletion is best-effort

    def abort(self, messages) -> None:
        from pyarrow.fs import FileSelector

        from ..pipeline.splitter import resolve_fs

        filesystem, dir_path = resolve_fs(self.marker_dir)
        base = dir_path.rstrip("/")
        for m in messages:
            if m is None:
                continue
            for tmp, _final in m.pairs:
                try:
                    filesystem.delete_file(f"{base}/{tmp}")
                except OSError:
                    pass  # temp already gone — abort must not raise
        # Messages only cover tasks that FINISHED.  A task killed
        # mid-write (the job abort racing a still-running task) dies
        # without running its own cleanup and leaves no commit message,
        # orphaning its staged temp — observed as a real race in the
        # test suite.  Sweep only THIS job's temps (the job token is in
        # every temp name), so a concurrently running second job's
        # staged files survive even when the single-writer-per-dir
        # assumption is violated.  Best-effort by design: a task whose
        # stream opens after this sweep re-creates its orphan; that
        # residue is cleaned by the next job's overwrite or a dir GC.
        token = f".{self.job_token}."
        for info in filesystem.get_file_info(
                FileSelector(base, allow_not_found=True)):
            if info.base_name.endswith(".tmp") and token in info.base_name:
                try:
                    filesystem.delete_file(f"{base}/{info.base_name}")
                except OSError:
                    pass


class MarkerStreamWriter(DataSourceStreamWriter):
    """Streaming marker sink (``writeStream.format("split_markers")``):
    each micro-batch's rows land as markers through the same two-phase
    stage-then-rename protocol as the batch ``MarkerWriter``.  Batch
    RETRIES are idempotent at the protocol level: a marker's visible
    name is derived from its ``date`` alone, so re-committing batch N
    after a crash rewrites the same ``<date>.json`` files rather than
    duplicating them — the rename is the last step, exactly the
    reference's marker-last discipline.  ``abort`` removes that
    batch's staged temps and leaves every committed marker intact."""

    def __init__(self, marker_dir: str):
        # no stale markers to drop: a stream only adds or rewrites
        MarkerWriter.__init__(self, marker_dir, overwrite=False)

    def write(self, iterator) -> "_MarkerWriteCommit":
        return MarkerWriter.write(self, iterator)  # same staging body

    def commit(self, messages, batchId: int) -> None:
        MarkerWriter.commit(self, messages)

    def abort(self, messages, batchId: int) -> None:
        MarkerWriter.abort(self, messages)


def register_marker_source(spark) -> None:
    """Idempotently register ``split_markers`` on this session."""
    spark.dataSource.register(MarkerDataSource)


def read_markers(spark, marker_dir: str):
    """Marker dir → DataFrame (one row per committed day)."""
    register_marker_source(spark)
    return spark.read.format("split_markers").load(marker_dir)


# ---------------------------------------------------------------- streaming

class _NullWriter:  # pragma: no cover - trivial
    pass


class MarkerStreamDataSource(DataSource):
    """``readStream.format("split_markers_stream")`` — the marker dir
    as an UNBOUNDED source: each micro-batch serves the marker files
    that appeared since the last committed offset, so a downstream
    dashboard (or the reprocess scheduler itself) reacts to day
    completions as they commit instead of re-listing the world.

    Offset = the high-watermark marker base name.  Marker names embed
    the day (``<prefix>_<yyyymmdd>.json``) so lexicographic order is
    commit order for the incremental driver; a REOPENED day rewrites
    its existing marker in place (same name) and is deliberately a
    batch-source concern (`read_markers`), not a stream event —
    matching the reference scheduler, which reacts to reopened days by
    fingerprint comparison, not by listing order.

    Built on ``SimpleDataSourceStreamReader`` — the driver-side prefetch
    variant of the Spark 4 Python streaming source API, the right
    trade for a METADATA-sized stream (one tiny JSON per day; listing
    is already driver-side in the batch source).  A data-volume source
    would implement partition-based ``DataSourceStreamReader`` instead.
    """

    @classmethod
    def name(cls) -> str:
        return "split_markers_stream"

    def schema(self) -> str:
        return SCHEMA

    def simpleStreamReader(self, schema) -> "MarkerSimpleStreamReader":
        path = self.options.get("path")
        if not path:
            raise ValueError("split_markers_stream requires a path: "
                             ".load('<marker_dir>')")
        return MarkerSimpleStreamReader(path)


class MarkerSimpleStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, marker_dir: str):
        self.marker_dir = marker_dir

    # -- SimpleDataSourceStreamReader contract

    def initialOffset(self) -> dict:
        return {"watermark": ""}

    def read(self, start: dict):
        wm = start.get("watermark", "")
        fresh = [n for n in _marker_names(self.marker_dir) if n > wm]
        end = {"watermark": fresh[-1]} if fresh else dict(start)
        return iter(list(_marker_rows(self.marker_dir, fresh))), end

    def readBetweenOffsets(self, start: dict, end: dict):
        lo, hi = start.get("watermark", ""), end.get("watermark", "")
        replay = [n for n in _marker_names(self.marker_dir)
                  if lo < n <= hi]
        return iter(list(_marker_rows(self.marker_dir, replay)))

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream's checkpoint, nothing to GC


def register_marker_stream_source(spark) -> None:
    """Idempotently register ``split_markers_stream`` on this session."""
    spark.dataSource.register(MarkerStreamDataSource)


def read_marker_stream(spark, marker_dir: str):
    """Marker dir → streaming DataFrame (one row per NEW marker)."""
    register_marker_stream_source(spark)
    return spark.readStream.format("split_markers_stream").load(marker_dir)

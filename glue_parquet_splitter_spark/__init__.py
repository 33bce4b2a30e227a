"""glue_parquet_splitter_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference (Saxon-Pi/glue-parquet-splitter: an incremental Parquet
partitioning pipeline — see SURVEY.md), re-expressed Spark-first:

- ``pipeline``   — the marker-driven incremental split pipeline
                   (reference parity: parquet-splitter.py:117-196).
- ``streaming``  — Structured Streaming variants (file source,
                   windowed aggregations, watermarks, foreachBatch).
- ``operators``  — extended operator library: dedup, similarity
                   search, text analysis, multimodal columns.
- ``queries``    — the declared query registry consumed by
                   ``__spark_entry__`` (one entry per operator, each
                   with a DuckDB oracle where SQL-expressible).

Everything rides the DataFrame API so Catalyst/Tungsten/AQE pick the
physical strategy; Python UDFs only where built-ins can't express the
semantics (and then Arrow-vectorized).

Importing the package inside a Spark task (every engine UDF's closure
does, when a Python worker unpickles it) installs
:func:`session.guard_zip_rereads` in that worker, so its later tasks
stop re-parsing unchanged zip archives on the import path.
"""

from pyspark import TaskContext

__version__ = "0.1.0"

if TaskContext.get() is not None:
    from .session import guard_zip_rereads

    guard_zip_rereads()

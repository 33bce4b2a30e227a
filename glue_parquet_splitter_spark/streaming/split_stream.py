"""Streaming version of the split pipeline (M3).

``readStream`` file source tracks processed files in its checkpoint —
the streaming-native replacement for the reference's marker-set
anti-join (parquet-splitter.py:135-138). Each micro-batch fans out by
key inside ``foreachBatch`` using the same split operator as the batch
path, then commits a marker (audit record; exactly-once comes from the
checkpoint, the marker is for downstream visibility, mirroring
parquet-splitter.py:175-186).
"""

from __future__ import annotations

import json
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.splitter import (require_columns, write_bytes,
                                 write_partitioned)


def run_split_stream(spark: SparkSession, in_dir: str, out_dir: str,
                     marker_dir: str, key: str = "item_id",
                     checkpoint_dir: str | None = None) -> list[dict]:
    """Drain the input directory once (availableNow) splitting by key.

    Returns the marker docs written (one per micro-batch). Re-running
    with the same checkpoint processes only new files — incremental
    exactly-once without any marker arithmetic.
    """
    schema = spark.read.parquet(in_dir).schema
    require_columns(spark.read.parquet(in_dir), [key])
    checkpoint_dir = checkpoint_dir or tempfile.mkdtemp(prefix="split_ckpt_")
    markers: list[dict] = []

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
        .withColumn("__src", F.input_file_name())
    )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()  # read source files once, not 3×
        try:
            # one aggregate covers emptiness, inputs, and row count
            src_counts = batch_df.groupBy("__src").count().collect()
            if not src_counts:
                return
            inputs = sorted(r["__src"] for r in src_counts)
            n_rows = sum(r["count"] for r in src_counts)
            write_partitioned(batch_df.drop("__src"), f"{out_dir}/batch={batch_id}", key=key)
        finally:
            batch_df.unpersist()
        doc = {
            "batch_id": batch_id,
            "inputs": inputs,
            "rows": n_rows,
            "generated_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        write_bytes(f"{marker_dir}/batch-{batch_id}.json",
                    json.dumps(doc).encode("utf-8"))
        markers.append(doc)

    q = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return markers

"""Incremental reverse-geocoding via Structured Streaming.

The reference is batch-only with resume-by-key checkpoints (SURVEY.md §2.10);
the Spark-native equivalent for a continuously-growing pages table is a file
(or Iceberg) streaming source + ``foreachBatch``: Spark's streaming commit log
provides exactly-once *file-level progress tracking*, and inside each micro
batch the full batch engine (extract → PIP → kNN — a single action-free plan)
runs unchanged.  End-to-end output semantics are exactly-once because the
sink write is **idempotent**: each micro-batch overwrites its own
deterministic ``batch_id``-derived subdirectory, so a batch retried after a
mid-write failure replaces its partial output instead of duplicating rows
(a plain append-mode write would be at-least-once — ADVICE.md round-1
item 5).  ``Trigger.AvailableNow`` turns the same pipeline into a resumable
incremental batch job — the streaming counterpart of the manifest runner in
sources/manifest.py.

**Output is checkpoint-lineage-scoped** (round-2 VERDICT item 10): the
``batch_id``-keyed subdirectories are meaningful only for the checkpoint
that produced them, so starting with a FRESH checkpoint (no committed
offsets yet) clears any pre-existing output directory — otherwise stale
``batch_id=N`` dirs from a prior lineage would mix into reads.  Deleting
the checkpoint therefore restates the whole output, exactly like deleting
the manifest restarts a manifest run.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.types import (BinaryType, StringType, StructField, StructType,
                               TimestampType)

PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])


def incremental_reverse_geocode(spark: SparkSession, *, input_path: str,
                                output_path: str, checkpoint_path: str,
                                polys_pdf: pd.DataFrame, cities_pdf: pd.DataFrame):
    """Stream new pages files into reverse-geocoded parquet output.

    Returns the StreamingQuery, which drains all unprocessed files and
    stops (call ``awaitTermination()``).
    """
    from ..plans.reverse_geocode import reverse_geocode_pages

    # fresh checkpoint (no committed offsets) ⇒ no prior output of THIS
    # lineage can exist — clear orphans from any earlier lineage so reads
    # never mix runs
    if not (Path(checkpoint_path) / "offsets").exists():
        shutil.rmtree(output_path, ignore_errors=True)

    stream = (spark.readStream
              .schema(PAGES_SCHEMA)
              .option("maxFilesPerTrigger", 64)
              .parquet(input_path))

    def process_batch(batch_df, batch_id: int) -> None:
        out = reverse_geocode_pages(spark, batch_df, polys_pdf, cities_pdf)
        # idempotent per-batch sink: retried batches overwrite, never append
        out.write.mode("overwrite").parquet(f"{output_path}/batch_id={batch_id}")

    return (stream.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_path)
            .trigger(availableNow=True)
            .start())

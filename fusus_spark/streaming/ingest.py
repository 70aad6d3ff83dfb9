"""Structured Streaming wrapper around the batch extraction stage.

``readStream`` over a documents directory -> the fused extraction
``mapInArrow`` stage -> ``foreachBatch`` sink that writes the words +
envelope tables of each micro-batch to ``out/<kind>/batch_id=N``.
Checkpointing is Spark's streaming checkpoint (offsets); ``foreachBatch``
is at-least-once, so the sink overwrites its own batch's dirs and a
re-run micro-batch replaces its output instead of appending it twice.

This is deliberately thin: the extraction semantics live in ONE place
(fusus_spark.extraction) and are reused verbatim; only the source/sink
plumbing differs from the batch job.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession

from fusus_spark.extraction.pipeline import (
    extract_stage,
    extracted_from_stage,
    words_from_stage,
)
from fusus_spark.schema import DOCUMENTS_SCHEMA


def write_micro_batch(batch_df: DataFrame, batch_id: int, output_dir: str) -> None:
    """The ``foreachBatch`` sink: one parse, then each table overwrites
    ``out/<kind>/batch_id=N`` — writing a batch id twice leaves one copy."""
    stage = extract_stage(batch_df).cache()
    try:
        for kind, split in (("words", words_from_stage), ("extracted", extracted_from_stage)):
            split(stage).write.mode("overwrite").parquet(
                os.path.join(output_dir, kind, f"batch_id={batch_id}")
            )
    finally:
        stage.unpersist()


def extraction_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 8,
):
    """Start a streaming extraction query over parquet files landing in
    ``input_dir``. Returns the StreamingQuery (caller awaits/stops)."""
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    return (
        stream.writeStream.foreachBatch(
            functools.partial(write_micro_batch, output_dir=output_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


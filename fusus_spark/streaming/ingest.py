"""Structured Streaming wrapper around the batch extraction stage.

``readStream`` over a documents directory -> the fused extraction
``mapInArrow`` stage -> ``foreachBatch`` sink that appends words +
envelope tables per micro-batch. Checkpointing is Spark's streaming
checkpoint (offsets) — exactly-once per micro-batch with an idempotent
parquet append keyed by batch id.

This is deliberately thin: the extraction semantics live in ONE place
(fusus_spark.extraction) and are reused verbatim; only the source/sink
plumbing differs from the batch job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from fusus_spark.extraction.pipeline import (
    extract_stage,
    extracted_from_stage,
    words_from_stage,
)
from fusus_spark.schema import DOCUMENTS_SCHEMA


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

    words_dir = os.path.join(output_dir, "words")
    extracted_dir = os.path.join(output_dir, "extracted")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        stage = extract_stage(batch_df).cache()
        try:
            (
                words_from_stage(stage)
                .write.mode("append")
                .parquet(words_dir)
            )
            (
                extracted_from_stage(stage)
                .write.mode("append")
                .parquet(extracted_dir)
            )
        finally:
            stage.unpersist()

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


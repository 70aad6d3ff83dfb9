"""Stateful streaming operators: in-stream dedup and snapshot fold-back.

``dedup_stream`` is exact in-stream deduplication on the content hash
with ``dropDuplicatesWithinWatermark``: state is bounded by the
watermark horizon (an unbounded ``dropDuplicates`` would grow state
forever at crawl scale). Same NOTION of duplicate as the batch
``exact_duplicates`` (the md5 content hash) — but the survivor is the
first-ARRIVING row (file-processing order), not the batch rule's
deterministic min-doc_id representative; pipe the output through a
min-per-hash agg when a canonical representative matters.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from fusus_spark.functions.text import norm_ws
from fusus_spark.schema import DOCUMENTS_SCHEMA


def _deduped_docs(
    spark: SparkSession, input_dir: str, watermark: str, max_files_per_trigger: int
):
    """(url, warc_ts, content_hash) of documents landing in ``input_dir``,
    the first arrival per hash within the watermark. The hash is the
    SAME md5-of-normalized-text (functions.text.norm_ws) as the batch
    exact dedup: stream and batch must never disagree on what a
    duplicate is."""
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    hashed = stream.select("url", "warc_ts", F.md5(norm_ws("text")).alias("content_hash"))
    return hashed.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def dedup_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    query_name: str = "dedup_docs",
    *,
    watermark: str = "2 hours",
    max_files_per_trigger: int = 2,
):
    """Streaming exact dedup: the first-ARRIVING document per content
    hash survives (arrival order = file-processing order — unlike the
    batch rule's deterministic min-id representative).

    The hash is the SAME md5-of-normalized-text the batch exact dedup
    uses, so batch and stream agree on WHAT a duplicate is, and on the
    surviving count; only which twin survives differs. Results in an
    in-memory sink (append mode).
    """
    deduped = _deduped_docs(spark, input_dir, watermark, max_files_per_trigger)
    return (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


FETCH_RESULTS_SCHEMA = (
    "url string, fetch_ts timestamp, http_status int, content_hash string"
)


def snapshot_foldback_stream(
    spark: SparkSession,
    input_dir: str,
    store_path: str,
    checkpoint_dir: str,
    query_name: str = "snapshot_foldback",
    *,
    crawl_date: str,
    watermark: str = "2 hours",
    max_files_per_trigger: int = 2,
):
    """Streaming face of ``operators.frontier.extend_snapshots``: fetch
    results landing as parquet files fold into snapshot-delta rows
    (url, content_hash, crawl_date) as they arrive — 200s emit the
    fresh hash, 304 Not-Modified carries the url's latest OBSERVED
    prior hash forward via a STREAM-STATIC join with the snapshot
    store (same null-skipping max-of-struct as the batch operator, so
    stream and batch can never disagree on what the store issued).
    Duplicate 304s for a url collapse within the watermark horizon
    (the batch ``distinct``'s bounded-state analog); 304s with no
    observed prior drop out of the inner join, exactly like batch.

    Scale shape, honestly (same disclosure as ``dedup_stream_vs_store``):
    the static side re-plans per micro-batch — a store scan + groupBy
    per trigger. Right for availableNow catch-up runs; a continuous
    deployment should ``foreachBatch`` the batch ``extend_snapshots``.
    The only stateful operator is the watermark dedup on the 304
    branch. Emits to an in-memory sink; callers append the table to
    the store, never mutate it in place (the frontier_job contract).
    """
    stream = (
        spark.readStream.schema(FETCH_RESULTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    latest = (
        spark.read.parquet(store_path)
        .where(F.col("content_hash").isNotNull())
        .groupBy("url")
        .agg(F.max(F.struct("crawl_date", "content_hash")).alias("m"))
        .select("url", F.col("m.content_hash").alias("__prior__"))
    )
    fresh = stream.where(
        (F.col("http_status") == 200) & F.col("content_hash").isNotNull()
    ).select("url", "content_hash", F.lit(crawl_date).alias("crawl_date"))
    confirmed = (
        stream.where(F.col("http_status") == 304)
        .withWatermark("fetch_ts", watermark)
        .dropDuplicatesWithinWatermark(["url"])
        .join(latest, "url")
        .select(
            "url",
            F.col("__prior__").alias("content_hash"),
            F.lit(crawl_date).alias("crawl_date"),
        )
    )
    return (
        fresh.unionByName(confirmed)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream_vs_store(
    spark: SparkSession,
    input_dir: str,
    store_path: str,
    checkpoint_dir: str,
    query_name: str = "dedup_vs_store",
    *,
    watermark: str = "2 hours",
    max_files_per_trigger: int = 2,
):
    """Streaming incremental dedup against the accumulated corpus: each
    arriving document is flagged ``is_seen`` by a STREAM-STATIC left
    join with the prefix-partitioned hash store
    (operators.dedup.write_hash_store) — the streaming face of
    ``incremental_dedup``, composed with the in-stream watermark dedup
    so within-stream twins collapse BEFORE the store join.

    Scale shape, honestly: a stream-static join re-plans the STATIC
    side every micro-batch — a full store scan + distinct exchange per
    trigger (the distinct is load-bearing: appended snapshots can
    repeat a hash, and duplicate right rows would fan out stream rows).
    That is acceptable for availableNow catch-up runs and modest
    stores; a continuously-triggered deployment against a huge store
    should instead micro-batch through ``foreachBatch`` calling the
    batch ``incremental_dedup`` (bloom prefilter + prefix-pruned
    verify), or maintain a pre-distinct'd store snapshot. No new state
    store here: the only stateful operator is the watermark dedup.
    Emits (url, warc_ts, content_hash, is_seen) to an in-memory sink.
    """
    deduped = _deduped_docs(spark, input_dir, watermark, max_files_per_trigger)
    seen = (
        spark.read.parquet(store_path)
        .select("content_hash")
        .distinct()
        .withColumn("__seen__", F.lit(True))
    )
    flagged = deduped.join(seen, "content_hash", "left").select(
        "url",
        "warc_ts",
        "content_hash",
        F.coalesce("__seen__", F.lit(False)).alias("is_seen"),
    )
    return (
        flagged.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

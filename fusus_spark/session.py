"""SparkSession factory with the engine's standard knobs.

Sandbox runs are ``local[N]`` single-JVM; the same config block is what
a ``spark-submit --py-files`` cluster launch would carry (see
fusus_spark/jobs/extract_job.py for the packaged entry point).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Arrow batches into Python UDF stages are cut at this many bytes as
# well as at maxRecordsPerBatch: it bounds the memory of a batch of
# giant pages, so extraction needs no separate lane for them.
ARROW_MAX_BYTES_PER_BATCH = 16 * 1024 * 1024


def _default_mem() -> str:
    """Driver heap gated on host RAM: a fixed -Xmx16g would get the JVM
    OOM-killed on small hosts instead of GC-degrading. Benchmarks opt
    into more via FUSUS_DRIVER_MEM."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "8g"
    return "16g" if total >= 64 * 1024**3 else "8g"


def get_spark(
    app_name: str = "fusus_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cores}]"
    shuffle = shuffle_partitions or int(
        os.environ.get("FUSUS_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Sized so a shuffle partition of html payloads fits in memory
        # at the target SF (SURVEY.md §4.3); AQE coalesces small ones.
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow everywhere: the engine's only Python surface is
        # pandas/Arrow UDFs (input_hint: no per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_MAX_BYTES_PER_BATCH))
        # Deterministic session timezone for timestamp round-trips.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("FUSUS_DRIVER_MEM", _default_mem()))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

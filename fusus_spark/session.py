"""SparkSession factory with the engine's standard knobs.

Sandbox runs are ``local[N]`` single-JVM (``get_spark``); the same
engine confs (``configure``) are what every job's ``main`` applies under
a ``spark-submit --py-files`` cluster launch (see
fusus_spark/jobs/extract_job.py for the packaged entry point).
"""

from __future__ import annotations

import os
import sys
import zipimport

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


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply the engine's session confs to ``builder``: what every job
    needs, in any launch. ``get_spark`` adds the sizing a local session
    takes; under spark-submit the launcher owns master and sizing, so a
    job's ``main`` builds ``configure(SparkSession.builder...)`` alone."""
    return (
        builder
        # AQE coalesces small shuffle partitions.
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
        # A curate job generates ~136 classes, more than the default
        # cache of 100 holds, so each later job in the session would
        # recompile most of them; at 1000 a repeated job compiles none.
        # (A single job compiles about 136 either way.) A static conf:
        # only the builder can set it.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )


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
        configure(SparkSession.builder.appName(app_name))
        .master(master)
        # Sized so a shuffle partition of html payloads fits in memory
        # at the target SF (SURVEY.md §4.3).
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", os.environ.get("FUSUS_DRIVER_MEM", _default_mem()))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def drop_zip_finders() -> None:
    """Delete every zip-archive finder from ``sys.path_importer_cache``.

    Call it first in every Python stage body (``mapInArrow`` /
    ``mapInPandas`` / ``applyInPandas`` functions, pandas UDFs). The
    Python worker calls ``importlib.invalidate_caches()`` at the start of
    every task, and on CPython >= 3.10 that makes each cached
    ``zipimport.zipimporter`` re-read its archive's central directory.
    A warm worker holds one per package directory it imported from
    pyspark.zip, the py4j zip, the spark-core jar and a ``--py-files``
    zip: about 16 re-reads and 0.3 CPU-s per task, spent before the
    stage body starts. With the finders gone, the next task's
    invalidation has nothing to refresh; only a worker's first tasks,
    which still import modules for the first time, rebuild a few.

    Nothing is unloaded: modules stay in ``sys.modules``, and a later
    import through a dropped path builds a new finder from
    ``zipimport._zip_directory_cache`` without reading the archive.

    Relies on: an archive already on a worker's path is not rewritten
    while the application runs. A rewritten archive would be read from
    the stale cached directory instead of being picked up at the next
    task.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)

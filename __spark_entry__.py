"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction end-to-end on sf0.001;
``queries()`` is the registry of 50 web-native queries over the
``documents`` and ``embeddings`` tables: extraction, text analysis,
dedup, similarity search, multimodal plumbing, alignment and the
curate tiers ``curate_job`` runs. ``oracle_sql()`` gives the DuckDB
equivalent for every query — the alignment queries (including
``align_editions``, the sequential 2-pointer fuzzy walk) run the full
aligner on provably-exact scenarios whose ground truth is closed-form
SQL; the noisy-perturbation variants are asserted in
tests/test_align.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full HTML extraction pipeline over sf0.001 documents.

    Wraps each document's text in deterministic boilerplate-laden HTML
    chrome (in-plan, JVM-side), then runs decode -> DOM parse ->
    boilerplate strip -> block/line/word segmentation inside one fused
    mapInArrow stage and returns the word-level table.
    """
    from fusus_spark.plans.web_queries import q_extract_words

    return q_extract_words(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from fusus_spark.plans.web_queries import WEB_QUERIES

    return dict(WEB_QUERIES)


def oracle_sql() -> dict[str, str]:
    from fusus_spark.plans.web_queries import WEB_ORACLES

    return dict(WEB_ORACLES)

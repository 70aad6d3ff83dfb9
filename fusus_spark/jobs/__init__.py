"""spark-submit entry points (cluster launch surface)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def write_tier(df: DataFrame, path: str, **aggs: Column) -> tuple[DataFrame, dict]:
    """Overwrite ``path`` with ``df`` as parquet; return the table read back
    and the ``aggs`` observed on the exact frame written (no Spark action of
    their own; taken in the write's final stage, so a stage retry cannot
    double count). A zero-row write observes counts as 0, sums as null.

    The read-back is given ``df``'s schema, so it starts no schema-inference
    job; Spark reads it back all-nullable, as inference would."""
    stats = Observation()
    if aggs:
        df = df.observe(stats, *(agg.alias(name) for name, agg in aggs.items()))
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path), (stats.get if aggs else {})

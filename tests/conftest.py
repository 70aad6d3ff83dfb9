from __future__ import annotations

import pytest

from fusus_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("fusus-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def driver_actions(monkeypatch):
    """Names of the classic ``DataFrame.count`` / ``collect`` calls made
    while the test runs — the eager driver actions a job can spend on
    statistics. Read ``len()`` before and after the code under test."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls: list[str] = []
    for name in ("count", "collect"):
        def wrapped(self, *args, _fn=getattr(DataFrame, name), _name=name, **kwargs):
            calls.append(_name)
            return _fn(self, *args, **kwargs)

        monkeypatch.setattr(DataFrame, name, wrapped)
    return calls


@pytest.fixture
def spark_jobs(spark):
    """``count(run)``: the Spark jobs ``run()`` starts, counted through
    the status tracker under a job group of their own."""
    import uuid

    sc = spark.sparkContext

    def count(run) -> int:
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job count")
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture
def registry_parity(spark, tmp_path):
    """``check(name, rows, schema)``: write ``rows`` as
    ``tmp_path/documents.parquet``, run registry query ``name`` on it in
    Spark and its oracle in DuckDB over the same table, and assert the
    row count, columns and value hash agree."""
    import duckdb

    import __spark_entry__ as entrymod
    from tools.parity import value_hash

    def check(name: str, rows: list[tuple],
              schema: str = "doc_id BIGINT, text VARCHAR") -> None:
        con = duckdb.connect()
        con.sql(f"CREATE TABLE documents ({schema})")
        con.executemany(
            f"INSERT INTO documents VALUES ({', '.join('?' * len(rows[0]))})", rows
        )
        con.sql(f"COPY documents TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)")
        sdf = entrymod.queries()[name](spark, str(tmp_path))
        srows = [tuple(r) for r in sdf.collect()]
        orc = con.sql(entrymod.oracle_sql()[name])
        orows = [tuple(r) for r in orc.fetchall()]
        assert len(srows) == len(orows), f"{name}: row count"
        assert sorted(sdf.columns) == sorted(orc.columns), f"{name}: schema"
        assert value_hash(sdf.columns, srows) == value_hash(orc.columns, orows), name

    return check

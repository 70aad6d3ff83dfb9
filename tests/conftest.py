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

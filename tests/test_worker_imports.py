"""Per-task fixed cost of Python stages: zip finders and importer caches.

The Python worker calls ``importlib.invalidate_caches()`` at the start of
every task, which makes each cached ``zipimport.zipimporter`` re-read its
archive. ``session.drop_zip_finders`` (called first in every stage body)
leaves the next task nothing to re-read.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa

from fusus_spark.session import drop_zip_finders


def _zip_finders() -> int:
    return sum(
        isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
    )


def test_drop_zip_finders_keeps_the_archive_directory(tmp_path, monkeypatch):
    archive = str(tmp_path / "zprobe.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zprobe_pkg/__init__.py", "")
        z.writestr("zprobe_pkg/first.py", "VALUE = 1\n")
        z.writestr("zprobe_pkg/second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(archive)
    try:
        first = importlib.import_module("zprobe_pkg.first")
        assert first.VALUE == 1
        assert _zip_finders() > 0
        directory = zipimport._zip_directory_cache[archive]

        drop_zip_finders()
        assert _zip_finders() == 0
        # what the worker runs before each task: with no zip finder
        # cached, nothing re-reads the archive's central directory
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is directory

        # a module not yet imported still loads from the same archive,
        # through a new finder built from the cached directory
        assert importlib.import_module("zprobe_pkg.second").VALUE == 2
        assert zipimport._zip_directory_cache[archive] is directory
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zprobe_pkg"]:
            del sys.modules[name]
        for path in [p for p in sys.path_importer_cache if p.startswith(archive)]:
            del sys.path_importer_cache[path]
        zipimport._zip_directory_cache.pop(archive, None)


def test_task_setup_does_not_re_add_zip_finders(spark):
    """A worker that ran a stage body starts its next task with no zip
    finder, so Spark's per-task ``invalidate_caches()`` reads no archive."""
    n = 2 * spark.sparkContext.defaultParallelism
    ids = spark.range(n).repartition(n)

    def p1(batches):
        import os

        # built before the drop: on a worker's first task pyarrow imports
        # pandas here, and a failed import on the way (Cython modules
        # probe for ``backports_abc``) builds a finder for every archive
        # on sys.path; a stage body's next call drops those again
        out = pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()]}, schema=pa.schema([("pid", pa.int64())])
        )
        drop_zip_finders()
        for _ in batches:
            pass
        yield out

    def p2(batches):
        import os
        import sys
        import zipimport

        finders = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "finders": [finders]},
            schema=pa.schema([("pid", pa.int64()), ("finders", pa.int64())]),
        )

    ran_p1 = {r.pid for r in ids.mapInArrow(p1, "pid long").collect()}
    p2_rows = ids.mapInArrow(p2, "pid long, finders long").collect()
    reused = [r for r in p2_rows if r.pid in ran_p1]
    assert reused, "no Python worker ran both probes"
    assert [r.finders for r in reused] == [0] * len(reused)

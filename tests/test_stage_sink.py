"""The extraction job's sink: the fused stage's Python worker writes the
words/extracted/removals tables itself (``pipeline.write_stage_tables``).

The sink and the query path (``extract_stage`` -> JVM ``inline``) are
two consumers of one stage batch builder; these tests pin that they
agree row for row, the part-file commit semantics, the codec, and the
per-task zip-finder cost of a fresh worker under either consumer.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fusus_spark.extraction import pipeline
from fusus_spark.extraction.pipeline import (
    STAGE_TABLES,
    PartFile,
    extract_stage,
    extracted_from_stage,
    removals_from_stage,
    words_from_stage,
)
from fusus_spark.sources import ledger as ledger_mod
from fusus_spark.sources.ledger import Ledger, load_done, run_extraction_job, write_bucketed_input
from tests.fixtures import FIXTURE_MAX_HTML_BYTES, fixture_documents
from tests.pathological import pathological_documents

CAP = FIXTURE_MAX_HTML_BYTES
KINDS = ("words", "extracted", "removals")
PART = re.compile(r"part-\d{5}\.parquet")
INPUT = "url string, html binary, lang string, charset string"


def _rows() -> list[tuple]:
    """(url, html, lang, charset): the fixture corpus (its capped giant
    page included), the pathological pages, an astral-plane/non-ASCII
    page and a page whose decode raises (status error)."""
    rows = [(d["url"], d["html"], d["lang"], None) for d in fixture_documents()]
    rows += [(d["url"], d["html"], None, None) for d in pathological_documents()]
    astral = (
        "<html><body><nav><a href='/'>home</a></nav><main>"
        "<p>math \U0001d538\U0001d539 and \U0001f600 emoji, caf\u00e9 na\u00efve</p>"
        "<p>\u0627\u0644\u0643\u062a\u0627\u0628 \u0627\u0644\u0639\u0631\u0628\u064a"
        " \u4e2d\u6587 \u65e5\u672c\u8a9e</p></main></body></html>"
    )
    rows.append(("https://ex.com/astral", astral.encode(), "ar", None))
    # a NUL charset hint on non-UTF-8 bytes makes the decode raise
    rows.append(("https://ex.com/error", b"<p>\xff\xfe broken</p>", "en", "\x00"))
    return rows


@pytest.fixture(scope="module")
def sink_input(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sink") / "input")
    write_bucketed_input(spark.createDataFrame(_rows(), INPUT), path, 3)
    return path


def _same_rows(got, want) -> None:
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_sink_tables_equal_the_query_path(spark, sink_input, tmp_path):
    """The job's three tables, read through ``load_done``, equal
    ``words_from_stage`` / ``extracted_from_stage`` /
    ``removals_from_stage`` of ``extract_stage`` over the same pages,
    row for row; every committed unit dir holds only part files."""
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")
    run_extraction_job(spark, sink_input, out, led, emit=KINDS, max_html_bytes=CAP)

    docs = spark.createDataFrame(_rows(), INPUT)
    stage = extract_stage(docs, max_html_bytes=CAP).cache()
    statuses = {r["status"] for r in stage.select("status").collect()}
    assert {"extracted", "empty", "error", "capped"} <= statuses
    for kind, split in (
        ("words", words_from_stage),
        ("extracted", extracted_from_stage),
        ("removals", removals_from_stage),
    ):
        _same_rows(load_done(spark, out, led, kind).drop("bucket"), split(stage))
    stage.unpersist()

    for kind in KINDS:
        for unit in os.listdir(os.path.join(out, kind)):
            files = os.listdir(os.path.join(out, kind, unit))
            assert files and all(PART.fullmatch(f) for f in files), (kind, unit, files)
        assert os.listdir(os.path.join(out, kind + ".staging")) == []
    rows = Ledger(led).rows()
    assert sum(r["rows_in"] for r in rows) == len(_rows())
    assert sum(r["outputs"]["extracted"]["rows"] for r in rows) == len(_rows())


def test_emit_without_words_neither_builds_nor_writes_them(
    spark, sink_input, monkeypatch, tmp_path
):
    """emit=(extracted, removals): the job writes no words table, and
    the task body builds its stage batches with ``emit_words=False``."""
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")
    run_extraction_job(
        spark, sink_input, out, led, emit=("extracted", "removals"), max_html_bytes=CAP
    )
    assert sorted(os.listdir(out)) == sorted(
        ["extracted", "extracted.staging", "removals", "removals.staging"]
    )
    assert load_done(spark, out, led, "extracted").count() == len(_rows())

    built = []
    build = pipeline._extract_batches_arrow

    def spy(*args, **kwargs):
        batch = build(*args, **kwargs)
        built.append(len(batch.column("words").flatten()))
        return batch

    monkeypatch.setattr(pipeline, "_extract_batches_arrow", spy)
    dirs = {k: str(tmp_path / "parts" / k) for k in ("extracted", "removals")}
    for d in dirs.values():
        os.makedirs(d)
    batch = pa.RecordBatch.from_pylist(
        [dict(zip(("url", "html", "lang"), r[:3])) for r in _rows()[:10]]
    )
    rows = pipeline.write_parts(iter([batch]), dirs, 0, max_html_bytes=CAP, codec="snappy")
    assert built == [0]
    assert rows["extracted"] == 10 and rows["removals"] > 0


def _batch(n: int) -> pa.RecordBatch:
    return pa.RecordBatch.from_pylist(
        [
            {"url": f"http://ex.com/{i}", "rule_id": "nav", "node_path": f"/html/body/nav[{i}]",
             "kept": i % 2 == 0, "score": i / 4, "guard_ratio": 0.5}
            for i in range(n)
        ],
        schema=STAGE_TABLES["removals"],
    )


def test_part_file_commit_semantics(spark, tmp_path):
    """A second attempt of a partition replaces the first attempt's part
    with identical rows; a killed attempt's hidden temp file is skipped
    by ``spark.read.parquet`` and swept before the unit commits."""
    d = str(tmp_path / "staged")
    os.makedirs(d)
    for _ in range(2):  # two attempts of partition 3
        part = PartFile(d, 3, STAGE_TABLES["removals"], "snappy")
        part.write(_batch(5))
        assert part.commit() == 5
    assert os.listdir(d) == ["part-00003.parquet"]
    assert pq.read_table(os.path.join(d, "part-00003.parquet")).equals(
        pa.Table.from_batches([_batch(5)])
    )

    killed = PartFile(d, 4, STAGE_TABLES["removals"], "snappy")
    killed.write(_batch(7))  # never committed: the attempt died here
    killed.writer.close()
    hidden = [f for f in os.listdir(d) if f.startswith(".")]
    assert len(hidden) == 1
    assert spark.read.parquet(d).count() == 5

    assert PartFile(d, 5, STAGE_TABLES["removals"], "snappy").commit() == 0
    assert ledger_mod._seal_parts(d, "removals", 5, "snappy") == os.path.getsize(
        os.path.join(d, "part-00003.parquet")
    )
    assert os.listdir(d) == ["part-00003.parquet"]


def test_zero_row_units_commit_one_empty_part_per_kind(spark, tmp_path):
    """A unit with no rows (an empty bucket file, or no bucket dir at
    all) commits one schema-only part per stage kind, and ``load_done``
    over the all-empty table returns 0 rows with the table's schema."""
    inp = str(tmp_path / "input")
    empty = spark.createDataFrame([], INPUT)
    for k in (0, 2):  # bucket=1 has no dir
        empty.write.parquet(f"{inp}/bucket={k}")
    out, led = str(tmp_path / "out"), str(tmp_path / "ledger")
    s = run_extraction_job(spark, inp, out, led, emit=KINDS)
    assert s["processed"] == 3
    for kind in KINDS:
        for k in range(3):
            unit = os.path.join(out, kind, f"bucket={k}")
            assert os.listdir(unit) == ["part-00000.parquet"]
            f = pq.ParquetFile(os.path.join(unit, "part-00000.parquet"))
            assert f.metadata.num_rows == 0
            assert f.schema_arrow.equals(STAGE_TABLES[kind])
        got = load_done(spark, out, led, kind).drop("bucket")
        assert got.count() == 0
        assert got.columns == STAGE_TABLES[kind].names
    for r in Ledger(led).rows():
        assert (r["rows_in"], r["rows_out"]) == (0, 0)
        assert all(r["outputs"][kind]["rows"] == 0 for kind in KINDS)


def test_sink_honours_the_session_parquet_codec(spark, sink_input, tmp_path):
    """The part files carry the session's parquet codec; a codec the
    sink cannot write raises before any unit starts."""
    key = "spark.sql.parquet.compression.codec"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "zstd")
        out, led = str(tmp_path / "out"), str(tmp_path / "ledger")
        run_extraction_job(spark, sink_input, out, led, emit=("words", "extracted"))
        for kind in ("words", "extracted"):
            for root, _, files in os.walk(os.path.join(out, kind)):
                for f in files:
                    meta = pq.ParquetFile(os.path.join(root, f)).metadata
                    assert meta.row_group(0).column(0).compression == "ZSTD"
        spark.conf.set(key, "lzo")
        bad_out, bad_led = str(tmp_path / "bad_out"), str(tmp_path / "bad_ledger")
        with pytest.raises(ValueError, match="lzo"):
            run_extraction_job(spark, sink_input, bad_out, bad_led)
        assert not os.path.exists(bad_out) and not os.path.exists(bad_led)
    finally:
        spark.conf.set(key, before)


# A fresh session whose two Python workers each run one task of the
# consumer named by argv[2], then one probe task each: the zip finders
# cached when the probe starts are what the worker's per-task
# invalidate_caches() just re-read.
_FRESH_WORKERS = """
import os, sys
import pyarrow as pa
from fusus_spark.extraction.pipeline import extract_stage, write_stage_tables
from fusus_spark.session import get_spark

spark = get_spark("stage-finders", master="local[2]", shuffle_partitions=2)
rows = [(f"http://ex.com/{i}", f"<p>page {i} of the probe</p>".encode(), "en")
        for i in range(100)]
docs = spark.createDataFrame(rows, "url string, html binary, lang string").repartition(2)
if sys.argv[2] == "sink":
    dirs = {k: os.path.join(sys.argv[1], k) for k in ("words", "extracted", "removals")}
    for d in dirs.values():
        os.makedirs(d)
    write_stage_tables(docs, dirs).collect()
else:
    extract_stage(docs).collect()

def probe(batches):
    import sys, zipimport
    n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"finders": [n]})

print(sorted(r.finders for r in spark.range(2).repartition(2).mapInArrow(probe, "finders long").collect()))
spark.stop()
"""


@pytest.mark.parametrize("consumer", ["sink", "stage"])
def test_fresh_worker_leaves_no_zip_finder(consumer, tmp_path):
    """A fresh worker's first stage task imports lazily loaded modules
    during its first batch; the finders those imports build are dropped
    too, so the worker's next task re-reads no archive."""
    proc = subprocess.run(
        [sys.executable, "-c", _FRESH_WORKERS, str(tmp_path), consumer],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip().splitlines()[-1] == "[0, 0]"

"""Spark wiring: the fused extraction stage as one ``mapInArrow`` pass.

Physical design (SURVEY.md §2.10, §4.3):

* ONE Arrow round-trip per document batch — decode/parse/strip/segment
  are fused so the per-document DOM never serializes (the reference's
  per-page stage dict stays inside ``_doPage``; ours stays inside one
  UDF call);
* no per-row Python at the Spark level — batches arrive as Arrow
  RecordBatches and leave as pyarrow arrays built in bulk (input_hint
  compliance; the pandas block-manager round-trip of ``mapInPandas``
  costs ~20% of stage wall at full width, so the stage is Arrow-native);
* one stage row per document (EXTRACTION_STAGE_SCHEMA): the envelope
  plus nested ``words``/``removals`` arrays, so a child row never
  repeats its url; on the query path the words and removals tables
  are a JVM ``inline`` of those arrays;
* one batch builder, two consumers: ``extract_stage`` hands the stage
  batches to the JVM, and ``write_stage_tables`` (the extraction
  job's sink) flattens the same batches in pyarrow and writes the
  tables from the Python worker, so the job's words never cross into
  the JVM;
* skew defense is explicit: ``repartition_salted`` hashes url+salt so
  one host's pages spread over all tasks; giant pages share the one
  lane because the session's Arrow byte cap
  (``spark.sql.execution.arrow.maxBytesPerBatch``, set in
  ``session.get_spark``) bounds the memory of any batch;
* per-task fixed cost is kept off the stage: ``run`` starts with
  ``session.drop_zip_finders`` so the worker's per-task
  ``importlib.invalidate_caches()`` finds no zip finder to re-read
  (~0.3 CPU-s per task otherwise, paid before the first batch), and
  the batch builder drops the finders a fresh worker's first batch
  rebuilt (32-79 ms for its next task otherwise);
* empty/error/capped urls still get their stage row (with empty
  arrays), unlike the reference which writes nothing for empty pages
  (fusus/page.py:640-647) — at 10^12 documents silent drops are
  unacceptable.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from fusus_spark.extraction.extract import DEFAULT_MAX_HTML_BYTES, extract_document
from fusus_spark.schema import (
    EXTRACTED_SCHEMA,
    EXTRACTION_STAGE_SCHEMA,
    REMOVALS_SCHEMA,
    WORDS_SCHEMA,
)
from fusus_spark.session import drop_zip_finders

_ARROW_STAGE = to_arrow_schema(EXTRACTION_STAGE_SCHEMA)
# the tables of the stage kinds, as the sink writes them
STAGE_TABLES = {
    "words": to_arrow_schema(WORDS_SCHEMA),
    "extracted": to_arrow_schema(EXTRACTED_SCHEMA),
    "removals": to_arrow_schema(REMOVALS_SCHEMA),
}
*_ENV_FIELDS, _WORDS_FIELD, _REMOVALS_FIELD = _ARROW_STAGE
# envelope columns taken from the extract_document result (url and lang
# come from the input batch)
_RESULT_COLS = [
    n for n in EXTRACTED_SCHEMA.fieldNames() if n not in ("url", "lang")
]


def _nested(field: pa.Field, offsets: list[int], columns: list[list]) -> pa.Array:
    """Flat per-batch element columns + per-document offsets ->
    one ``list<struct>`` array of ``field``'s type."""
    struct = field.type.value_type
    values = pa.StructArray.from_arrays(
        [pa.array(c, f.type) for c, f in zip(columns, struct)], fields=list(struct)
    )
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), values, type=field.type
    )


def _extract_batches_arrow(
    urls: list, htmls: list, langs: list, max_html_bytes: int,
    emit_words: bool = True, charsets: list | None = None,
) -> pa.RecordBatch:
    """One input batch of documents -> one stage RecordBatch, a row per
    document.

    Each row carries the envelope (status/counts/extracted_text) plus
    the document's words and boilerplate-removal records as nested
    arrays — all from a SINGLE ``extract_document`` call, so a job
    consuming words + stats + removals parses the corpus once, not
    three times. The element columns are filled flat over the whole
    batch with one offsets list per array, and the arrays are built in
    bulk (no pandas block-manager round-trip, ~half the cost of
    ``mapInPandas`` for the words payload that dominates this stage).
    ``emit_words=False`` leaves ``words`` empty (the dominant
    accumulator + Arrow payload) for consumers that only want
    envelopes/removals; counts on the envelope are unaffected.
    """
    env: dict[str, list] = {name: [] for name in _RESULT_COLS}
    words: list[list] = [[] for _ in _WORDS_FIELD.type.value_type]
    removals: list[list] = [[] for _ in _REMOVALS_FIELD.type.value_type]
    w_off, r_off = [0], [0]

    for html, lang, cs in zip(htmls, langs, charsets or [None] * len(urls)):
        res = extract_document(
            html, lang=lang, charset=cs, max_html_bytes=max_html_bytes
        )
        if not res["words"]:  # empty/error pages carry a null text
            res["extracted_text"] = None
        for name, col in env.items():
            col.append(res[name])
        for rows, cols, off in (
            (res["words"] if emit_words else [], words, w_off),
            (res["removals"], removals, r_off),
        ):
            for col, vals in zip(cols, zip(*rows)):
                col.extend(vals)
            off.append(off[-1] + len(rows))

    cols = {"url": urls, "lang": langs, **env}
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[f.name], f.type) for f in _ENV_FIELDS]
        + [
            _nested(_WORDS_FIELD, w_off, words),
            _nested(_REMOVALS_FIELD, r_off, removals),
        ],
        schema=_ARROW_STAGE,
    )


def extract_stage(
    docs: DataFrame,
    *,
    max_html_bytes: int = DEFAULT_MAX_HTML_BYTES,
    emit_words: bool = True,
) -> DataFrame:
    """documents(url, warc_ts, html, text, lang) -> extraction stage rows.

    Only (url, html, lang) are read — plus ``charset`` when the input
    carries it (the transport-layer decode hint the WARC envelope
    retains; consulted only when strict UTF-8 fails) — column pruning
    keeps warc_ts/text out of the Arrow channel (the reference's
    minimal=True page handle analog, fusus/page.py:98-99).
    ``emit_words=False`` leaves every ``words`` array empty for
    envelope/removals-only consumers: the words dominate the stage's
    accumulator + Arrow cost, and a removals query that built them only
    to drop them would pay the whole bill at 100 TB.
    """

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_zip_finders()
        yield from _stage_batches(batches, max_html_bytes, emit_words)

    return _pruned(docs).mapInArrow(run, schema=EXTRACTION_STAGE_SCHEMA)


def _pruned(docs: DataFrame) -> DataFrame:
    """The columns the stage reads: (url, html, lang[, charset])."""
    has_charset = "charset" in docs.columns
    return docs.select("url", "html", "lang", *(["charset"] if has_charset else []))


def _stage_batches(
    batches: Iterator[pa.RecordBatch], max_html_bytes: int, emit_words: bool
) -> Iterator[pa.RecordBatch]:
    """Input batches of ``_pruned`` columns -> stage RecordBatches: the
    one batch builder behind both consumers."""
    for rb in batches:
        if rb.num_rows == 0:
            continue
        cols = rb.to_pydict()
        yield _extract_batches_arrow(
            cols["url"], cols["html"], cols["lang"], max_html_bytes,
            emit_words, cols.get("charset"),
        )
    # a fresh worker's first batch imports lazily loaded modules (pandas
    # through pyarrow, the consumer's parquet writer or Arrow output),
    # which rebuilds zip finders: drop them again, or the worker's next
    # task re-reads their archives
    drop_zip_finders()


def words_from_stage(stage: DataFrame) -> DataFrame:
    """Stage rows -> the words table (one row per word, WORDS_SCHEMA)."""
    return stage.select("url", F.inline("words"))


def extracted_from_stage(stage: DataFrame) -> DataFrame:
    """Stage rows -> per-url envelope (EXTRACTED_SCHEMA): exactly one
    row per url, including empty/error/capped urls."""
    return stage.select(*EXTRACTED_SCHEMA.fieldNames())


def removals_from_stage(stage: DataFrame) -> DataFrame:
    """Stage rows -> removal diagnostics (markData analog,
    REMOVALS_SCHEMA), one row per record of the fused pass."""
    return stage.select("url", F.inline("removals"))


def _table_batch(stage: pa.RecordBatch, kind: str) -> pa.RecordBatch:
    """A stage batch -> one stage kind's table rows: the envelope
    columns, or a nested column flattened with its document's url taken
    once per element (the Arrow twin of ``inline``)."""
    schema = STAGE_TABLES[kind]
    if kind == "extracted":
        return stage.select(schema.names)
    lists = stage.column(kind)
    url = stage.column("url").take(pc.list_parent_indices(lists))
    return pa.RecordBatch.from_arrays([url, *lists.flatten().flatten()], schema=schema)


# Spark's parquet codec names that pyarrow writes as the same codec
_PARQUET_CODECS = {
    "none": "none", "uncompressed": "none", "snappy": "snappy", "gzip": "gzip", "zstd": "zstd",
}


def parquet_codec(spark: SparkSession) -> str:
    """The session's ``spark.sql.parquet.compression.codec`` as a
    pyarrow codec name; ``ValueError`` for a codec the sink cannot
    write as Spark would (lz4's Hadoop framing, lzo, brotli)."""
    name = spark.conf.get("spark.sql.parquet.compression.codec", "snappy").lower()
    if name not in _PARQUET_CODECS:
        raise ValueError(
            f"spark.sql.parquet.compression.codec={name!r}: the extraction "
            f"sink writes only {sorted(_PARQUET_CODECS)}"
        )
    return _PARQUET_CODECS[name]


class PartFile:
    """One task's part file of one table, ``<root>/part-<partition>.parquet``.

    Rows stream into a hidden temp file (``.part-...tmp``, which Spark's
    file listing skips), and ``commit`` renames it over the part name
    with ``os.replace``: a later attempt of the same partition replaces
    an earlier attempt's file whole, and a killed attempt leaves only a
    hidden temp file, swept before the unit commits. No row, no file,
    unless ``commit(empty=True)`` asks for a schema-only part.
    """

    def __init__(self, root: str, partition: int, schema: pa.Schema, codec: str):
        self.path = os.path.join(root, f"part-{partition:05d}.parquet")
        self.tmp = os.path.join(root, f".part-{partition:05d}-{uuid.uuid4().hex}.tmp")
        self.schema = schema
        self.codec = codec
        self.writer: pq.ParquetWriter | None = None
        self.rows = 0

    def write(self, batch: pa.RecordBatch) -> None:
        if batch.num_rows:
            self._writer().write_batch(batch)
            self.rows += batch.num_rows

    def commit(self, empty: bool = False) -> int:
        """Publish the part; returns its row count."""
        if self.writer is None and not empty:
            return 0
        self._writer().close()
        os.replace(self.tmp, self.path)
        return self.rows

    def _writer(self) -> pq.ParquetWriter:
        if self.writer is None:
            self.writer = pq.ParquetWriter(self.tmp, self.schema, compression=self.codec)
        return self.writer


def write_parts(
    batches: Iterator[pa.RecordBatch],
    dirs: dict[str, str],
    partition: int,
    *,
    max_html_bytes: int,
    codec: str,
) -> dict[str, int]:
    """A task's input batches -> one part file per stage kind in
    ``dirs`` (kind -> dir); returns the rows written per kind. Each
    stage batch is built once and split per kind; without ``words``
    in ``dirs`` no word is built."""
    parts = {
        kind: PartFile(d, partition, STAGE_TABLES[kind], codec)
        for kind, d in dirs.items()
    }
    for stage in _stage_batches(batches, max_html_bytes, "words" in dirs):
        for kind, part in parts.items():
            part.write(_table_batch(stage, kind))
    return {kind: part.commit() for kind, part in parts.items()}


def write_stage_tables(
    docs: DataFrame,
    dirs: dict[str, str],
    *,
    max_html_bytes: int = DEFAULT_MAX_HTML_BYTES,
    codec: str = "snappy",
) -> DataFrame:
    """documents -> the stage kinds' tables, written by the stage's own
    Python worker: each task writes ``part-<partition>.parquet`` per
    kind into ``dirs`` (kind -> an existing dir every executor sees)
    and returns only a ``(kind, rows)`` row per kind. Collecting the
    frame is the whole job: the tables never cross into the JVM.
    A kind with no row in a task gets no part from it."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_zip_finders()
        rows = write_parts(
            batches, dirs, TaskContext.get().partitionId(),
            max_html_bytes=max_html_bytes, codec=codec,
        )
        yield pa.RecordBatch.from_pydict(
            {"kind": list(rows), "rows": list(rows.values())},
            schema=pa.schema([("kind", pa.string()), ("rows", pa.int64())]),
        )

    return _pruned(docs).mapInArrow(run, "kind string, rows long")


def extract_removals(docs: DataFrame, *, max_html_bytes: int = DEFAULT_MAX_HTML_BYTES) -> DataFrame:
    """documents -> removal diagnostics via the SAME fused ``mapInArrow``
    stage that produces words and envelopes — a job wanting words + stats
    + removals parses each document exactly once (the reference writes
    markData inside the same per-page pass, fusus/page.py:927-1017;
    round-2's standalone re-parse doubled the 100-TB scan).
    """
    pruned = docs
    if "lang" not in docs.columns:
        pruned = docs.withColumn("lang", F.lit(None).cast("string"))
    return removals_from_stage(
        extract_stage(pruned, max_html_bytes=max_html_bytes, emit_words=False)
    )


# ---------------------------------------------------------------------------
# Skew defense (SURVEY.md §4.2 item 1)


def repartition_salted(docs: DataFrame, num_partitions: int, salt: int = 42) -> DataFrame:
    """Spread url-keyed rows uniformly: hash(url, salt) % N.

    Host-level skew (one host contributing millions of pages that sort
    together in the input files) is defused because the salted hash
    ignores input order entirely. AQE only fixes join/agg skew; a heavy
    UDF stage needs explicit redistribution.

    Partitioning key is the raw 64-bit hash (NOT pre-modded to N): a
    pre-modded key gets re-hashed by the partitioner and the N distinct
    values collide birthday-style, leaving partitions empty/doubled.
    """
    return docs.repartition(num_partitions, F.xxhash64(F.col("url"), F.lit(salt)))

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
  repeats its url; the words and removals tables are a JVM ``inline``
  of those arrays;
* skew defense is explicit: ``repartition_salted`` hashes url+salt so
  one host's pages spread over all tasks; giant pages share the one
  lane because the session's Arrow byte cap
  (``spark.sql.execution.arrow.maxBytesPerBatch``, set in
  ``session.get_spark``) bounds the memory of any batch;
* per-task fixed cost is kept off the stage: ``run`` starts with
  ``session.drop_zip_finders`` so the worker's per-task
  ``importlib.invalidate_caches()`` finds no zip finder to re-read
  (~0.3 CPU-s per task otherwise, paid before the first batch);
* empty/error/capped urls still get their stage row (with empty
  arrays), unlike the reference which writes nothing for empty pages
  (fusus/page.py:640-647) — at 10^12 documents silent drops are
  unacceptable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from fusus_spark.extraction.extract import DEFAULT_MAX_HTML_BYTES, extract_document
from fusus_spark.schema import EXTRACTED_SCHEMA, EXTRACTION_STAGE_SCHEMA
from fusus_spark.session import drop_zip_finders

_ARROW_STAGE = to_arrow_schema(EXTRACTION_STAGE_SCHEMA)
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
    has_charset = "charset" in docs.columns
    pruned = docs.select(
        "url", "html", "lang", *(["charset"] if has_charset else [])
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_zip_finders()
        for rb in batches:
            if rb.num_rows == 0:
                continue
            cols = {name: i for i, name in enumerate(rb.schema.names)}
            urls = rb.column(cols["url"]).to_pylist()
            htmls = rb.column(cols["html"]).to_pylist()
            langs = rb.column(cols["lang"]).to_pylist()
            charsets = (
                rb.column(cols["charset"]).to_pylist() if has_charset else None
            )
            yield _extract_batches_arrow(
                urls, htmls, langs, max_html_bytes, emit_words, charsets
            )

    return pruned.mapInArrow(run, schema=EXTRACTION_STAGE_SCHEMA)


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

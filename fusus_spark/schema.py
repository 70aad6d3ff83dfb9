"""Explicit schemas for every stage boundary (never inferred).

Reference analog: fusus hard-codes its word/char/line TSV schemas per path
(/root/reference/fusus/page.py:51-79, lakhnawi.py:2899-2911); we do the
same with Spark StructTypes. Input shape is mandated by
BASELINE.json.input_hint: (url string, warc_ts timestamp, html binary,
text string, lang string).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: Common-Crawl-style documents table (BASELINE.json input_hint).
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Output: one row per word (the fusus word-TSV analog, page.py:51-79).
# char_start/char_end index into extracted_text for the url;
# extracted_text[char_start:char_end] == word + punc (tested invariant).
WORDS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("line_id", T.IntegerType(), False),
        T.StructField("word_seq", T.IntegerType(), False),
        T.StructField("word", T.StringType(), False),
        T.StructField("punc", T.StringType(), False),
        T.StructField("char_start", T.IntegerType(), False),
        T.StructField("char_end", T.IntegerType(), False),
    ]
)

# Per-url extraction result: status + full ordered extracted text.
# Every input url appears exactly once (the reference silently writes
# nothing for empty pages, page.py:640-647; at web scale every url gets
# a status row: extracted / empty / error / capped).
EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("n_lines", T.IntegerType(), False),
        T.StructField("n_words", T.IntegerType(), False),
        T.StructField("n_removed", T.IntegerType(), False),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

# Diagnostics: boilerplate removal records (markData analog,
# fusus/page.py:37-49, 927-983): every removed or kept-candidate node.
REMOVALS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("rule_id", T.StringType(), False),
        T.StructField("node_path", T.StringType(), False),
        T.StructField("kept", T.BooleanType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("guard_ratio", T.DoubleType(), False),
    ]
)


def _without_url(schema: T.StructType) -> T.StructType:
    return T.StructType([f for f in schema.fields if f.name != "url"])


# The fused extraction stage: ONE row per input document — the
# EXTRACTED envelope (empty/error/capped urls included, so accounting
# never loses a url) plus that document's words and boilerplate-removal
# records as nested arrays, all out of one parse, mirroring the
# reference writing markData inside the same per-page pass
# (fusus/page.py:927-1017). The element structs are WORDS / REMOVALS
# minus the parent url; the split into the three tables is a JVM
# ``inline`` (pipeline.py). Arrays and elements are non-nullable so the
# inlined columns keep the WORDS / REMOVALS nullability.
EXTRACTION_STAGE_SCHEMA = T.StructType(
    EXTRACTED_SCHEMA.fields
    + [
        T.StructField("words", T.ArrayType(_without_url(WORDS_SCHEMA), False), False),
        T.StructField("removals", T.ArrayType(_without_url(REMOVALS_SCHEMA), False), False),
    ]
)

# Alignment output (fusus/align.py:436 row shape (iLK,left,d,r,right,iAF)).
ALIGNMENT_SCHEMA = T.StructType(
    [
        T.StructField("slot_a", T.LongType(), True),
        T.StructField("word_a", T.StringType(), True),
        T.StructField("distance", T.IntegerType(), True),
        T.StructField("ratio", T.DoubleType(), True),
        T.StructField("word_b", T.StringType(), True),
        T.StructField("slot_b", T.LongType(), True),
    ]
)

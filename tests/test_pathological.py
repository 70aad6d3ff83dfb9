"""Byte-identical goldens over the adversarial HTML corpus.

Mirrors the reference's hard-case method (/root/reference/pathological/:
input pages with locked expected outputs) — every case in
tests/pathological.py must extract byte-for-byte, with spans intact.
"""

from __future__ import annotations

from fusus_spark.extraction import extract_document
from tests.pathological import pathological_documents


def test_pathological_goldens_byte_identical():
    failures = []
    for doc in pathological_documents():
        res = extract_document(doc["html"])
        if res["status"] != doc["status"]:
            failures.append((doc["url"], "status", doc["status"], res["status"]))
            continue
        if doc["golden"] is not None and res["extracted_text"] != doc["golden"]:
            failures.append(
                (doc["url"], "text", doc["golden"][:80], res["extracted_text"][:80])
            )
    assert not failures, failures


def test_pathological_span_invariants():
    for doc in pathological_documents():
        res = extract_document(doc["html"])
        text = res["extracted_text"]
        prev_end = -1
        prev_key = None
        for block_id, line_id, word_seq, word, punc, cs, ce in res["words"]:
            assert text[cs:ce] == word + punc, doc["url"]
            assert cs >= prev_end, doc["url"]
            key = (block_id, line_id, word_seq)
            assert prev_key is None or key > prev_key, doc["url"]
            prev_end = ce
            prev_key = key


def test_pathological_determinism():
    for doc in pathological_documents():
        assert extract_document(doc["html"]) == extract_document(doc["html"]), doc["url"]


def test_pathological_through_spark_pipeline(spark):
    """The same adversarial corpus must survive the full Arrow pipeline
    (salted repartition, mapInArrow batching, envelope accounting) with
    byte-identical extracted text per url."""
    import datetime as dt

    from fusus_spark.extraction.pipeline import (
        extract_stage,
        extracted_from_stage,
        repartition_salted,
    )

    docs = pathological_documents()
    rows = [
        (d["url"], dt.datetime(2026, 1, 1), d["html"], "", "en") for d in docs
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    got = {
        r["url"]: r
        for r in extracted_from_stage(extract_stage(repartition_salted(df, 4))).collect()
    }
    assert len(got) == len(docs)  # every url accounted
    for d in docs:
        row = got[d["url"]]
        assert row["status"] == d["status"], d["url"]
        if d["golden"] is not None:
            assert row["extracted_text"] == d["golden"], d["url"]


def test_guard_and_outermost_decisions_recorded():
    docs = {d["url"].rsplit("/", 1)[1]: d for d in pathological_documents()}

    res = extract_document(docs["content-aside"]["html"])
    kept = [r for r in res["removals"] if r[0] == "tag:aside" and r[2]]
    assert kept, "guard must record the kept aside"

    res = extract_document(docs["content-inside-footer"]["html"])
    removed = [r for r in res["removals"] if r[0] == "tag:footer" and not r[2]]
    assert removed
    # no removal row for the inner 'content' div: never visited
    assert not any("content" in r[0] for r in res["removals"])

    res = extract_document(docs["aria-roles"]["html"])
    rule_ids = {r[0] for r in res["removals"] if not r[2]}
    assert {"role:navigation", "role:banner", "role:contentinfo"} <= rule_ids

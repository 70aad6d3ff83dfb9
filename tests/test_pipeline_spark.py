"""End-to-end Spark tests: fixture corpus -> words/extracted/removals."""

from __future__ import annotations

from pyspark.sql import functions as F

from fusus_spark.extraction.pipeline import (
    extract_removals,
    extract_stage,
    extracted_from_stage,
    repartition_salted,
    words_from_stage,
)
from fusus_spark.schema import DOCUMENTS_SCHEMA
from tests.fixtures import FIXTURE_MAX_HTML_BYTES, fixture_documents

CAP = FIXTURE_MAX_HTML_BYTES


def _docs_df(spark):
    rows = [
        (d["url"], d["warc_ts"], d["html"], d["text"], d["lang"])
        for d in fixture_documents()
    ]
    return spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)


def test_end_to_end_byte_identical(spark):
    docs = _docs_df(spark)
    stage = extract_stage(repartition_salted(docs, 8), max_html_bytes=CAP).cache()
    extracted = {r["url"]: r for r in extracted_from_stage(stage).collect()}

    fixture = fixture_documents()
    assert len(extracted) == len(fixture), "every url must get a status row"
    for doc in fixture:
        row = extracted[doc["url"]]
        assert row["status"] == doc["status"], doc["url"]
        if doc["golden"] is not None and doc["status"] == "extracted":
            assert row["extracted_text"] == doc["golden"], doc["url"]
    stage.unpersist()


def test_words_table_invariants(spark):
    docs = _docs_df(spark)
    stage = extract_stage(repartition_salted(docs, 8), max_html_bytes=CAP).cache()
    words = words_from_stage(stage)

    # schema sanity
    assert [f.name for f in words.schema.fields] == [
        "url", "block_id", "line_id", "word_seq", "word", "punc",
        "char_start", "char_end",
    ]
    # span reconstruction against extracted_text (join through envelope)
    env = extracted_from_stage(stage).select("url", "extracted_text")
    joined = words.join(env, "url")
    bad = joined.where(
        F.expr("substring(extracted_text, char_start + 1, char_end - char_start)")
        != F.concat("word", "punc")
    ).count()
    assert bad == 0

    # monotone non-overlapping spans per url
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy("block_id", "line_id", "word_seq")
    overlap = (
        words.withColumn("prev_end", F.lag("char_end").over(w))
        .where(F.col("prev_end").isNotNull() & (F.col("char_start") < F.col("prev_end")))
        .count()
    )
    assert overlap == 0
    stage.unpersist()


def test_removals_diagnostics(spark):
    docs = _docs_df(spark)
    removals = extract_removals(docs)
    agg = {
        r["rule_id"]: r["n"]
        for r in removals.where(~F.col("kept"))
        .groupBy("rule_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert agg.get("tag:header", 0) >= 20  # chrome on plain + bulk pages
    assert agg.get("tag:footer", 0) >= 20
    kept = removals.where(F.col("kept")).count()
    assert kept >= 1  # the lookalike guard case


def test_emit_words_false_keeps_envelope_counts(spark):
    """extract_stage(emit_words=False): every words array is empty, so
    no word crosses the Arrow channel, but envelopes (incl. n_words)
    and removals are identical to the full stage — the removals-only
    fast path contract."""
    from fusus_spark.extraction.pipeline import removals_from_stage

    docs = _docs_df(spark)
    full = extract_stage(docs, max_html_bytes=CAP)
    slim = extract_stage(docs, max_html_bytes=CAP, emit_words=False)
    assert slim.where(F.size("words") > 0).count() == 0
    assert full.where(F.size("words") > 0).count() > 0
    env_cols = ["url", "status", "n_blocks", "n_lines", "n_words", "n_removed"]
    a = extracted_from_stage(full).select(env_cols)
    b = extracted_from_stage(slim).select(env_cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    ra = removals_from_stage(full)
    rb = removals_from_stage(slim)
    assert ra.exceptAll(rb).count() == 0 and rb.exceptAll(ra).count() == 0


def test_stage_one_row_per_document(spark):
    """The stage carries ONE row per input url — empty, error and
    capped documents included — with the document's words and removal
    records nested in it, and the split frames keep the table schemas
    (names, types, nullability) exactly."""
    from fusus_spark.extraction.extract import extract_document
    from fusus_spark.extraction.pipeline import removals_from_stage
    from fusus_spark.schema import EXTRACTED_SCHEMA, REMOVALS_SCHEMA, WORDS_SCHEMA

    rows = [(d["url"], d["html"], d["lang"], None) for d in fixture_documents()]
    # a NUL charset hint on non-UTF-8 bytes makes the decode raise
    rows.append(("https://ex.com/error", b"<p>\xff\xfe broken</p>", "en", "\x00"))
    docs = spark.createDataFrame(
        rows, "url string, html binary, lang string, charset string"
    )
    stage = extract_stage(docs, max_html_bytes=CAP).cache()
    got = {
        r["url"]: r
        for r in stage.select(
            "url", "status", "n_words",
            F.size("words").alias("size_words"),
            F.size("removals").alias("size_removals"),
        ).collect()
    }
    assert stage.count() == len(got) == len(rows)
    for url, html, lang, charset in rows:
        want = extract_document(html, lang=lang, charset=charset, max_html_bytes=CAP)
        row = got[url]
        assert row["status"] == want["status"], url
        assert row["size_words"] == row["n_words"] == len(want["words"]), url
        assert row["size_removals"] == len(want["removals"]), url
    assert {"extracted", "empty", "error", "capped"} <= {
        r["status"] for r in got.values()
    }

    assert words_from_stage(stage).schema == WORDS_SCHEMA
    assert extracted_from_stage(stage).schema == EXTRACTED_SCHEMA
    assert removals_from_stage(stage).schema == REMOVALS_SCHEMA
    stage.unpersist()


def test_deterministic_across_runs(spark):
    docs = _docs_df(spark)
    h1 = (
        words_from_stage(extract_stage(repartition_salted(docs, 8), max_html_bytes=CAP))
        .orderBy("url", "block_id", "line_id", "word_seq")
        .select(F.md5(F.concat_ws("", "url", "word", "punc", "char_start")).alias("h"))
        .agg(F.md5(F.concat_ws("", F.collect_list("h"))).alias("corpus_hash"))
        .first()["corpus_hash"]
    )
    h2 = (
        words_from_stage(extract_stage(repartition_salted(docs, 3), max_html_bytes=CAP))
        .orderBy("url", "block_id", "line_id", "word_seq")
        .select(F.md5(F.concat_ws("", "url", "word", "punc", "char_start")).alias("h"))
        .agg(F.md5(F.concat_ws("", F.collect_list("h"))).alias("corpus_hash"))
        .first()["corpus_hash"]
    )
    assert h1 == h2


def test_arrow_batches_capped_by_bytes(spark):
    """Eight 4 MiB pages among 2 000 small ones, all in one partition:
    the session's byte cap splits the Arrow input of a ``mapInArrow``
    stage so no batch exceeds the cap by more than one page, and the
    giants still extract exactly as ``extract_document`` does."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from fusus_spark.extraction.extract import extract_document
    from fusus_spark.session import ARROW_MAX_BYTES_PER_BATCH

    giant_bytes = 4 * 1024 * 1024

    def page(i: int, size: int) -> bytes:
        # the bulk sits in an inline script: a whole parse/strip over
        # the bytes, a few words of text out
        head = f"<html><body><main><p>page {i} body text stays</p><script>"
        tail = "</script></main></body></html>"
        return (head + "x" * (size - len(head) - len(tail)) + tail).encode()

    rows = [
        (f"https://ex.com/p{i}", page(i, giant_bytes if i % 251 == 0 else 900), "en")
        for i in range(2008)
    ]
    giants = {url: html for url, html, _ in rows if len(html) == giant_bytes}
    assert len(giants) == 8
    docs = spark.createDataFrame(rows, "url string, html binary, lang string").coalesce(1)

    def probe(batches):
        for rb in batches:
            sizes = pc.binary_length(rb.column("html"))
            n_giant = pc.sum(pc.greater_equal(sizes, giant_bytes)).as_py() or 0
            yield pa.RecordBatch.from_pydict(
                {"rows": [rb.num_rows], "nbytes": [rb.nbytes], "giants": [n_giant]}
            )

    seen = docs.mapInArrow(probe, "rows long, nbytes long, giants long").collect()
    assert sum(r["rows"] for r in seen) == len(rows)
    assert max(r["nbytes"] for r in seen) <= ARROW_MAX_BYTES_PER_BATCH + giant_bytes
    assert sum(r["giants"] for r in seen) == 8
    assert sum(1 for r in seen if r["giants"]) >= 2

    stage = extracted_from_stage(extract_stage(docs))
    got = {
        r["url"]: r
        for r in stage.where(F.col("url").isin(list(giants))).collect()
    }
    for url, html in giants.items():
        want = extract_document(html, lang="en")
        assert got[url]["status"] == want["status"] == "extracted", url
        assert got[url]["extracted_text"] == want["extracted_text"], url

"""Streaming ingest variant: same extraction semantics, streaming source."""

from __future__ import annotations

from pyspark.sql import functions as F

from fusus_spark.schema import DOCUMENTS_SCHEMA
from fusus_spark.streaming import extraction_stream
from tests.fixtures import fixture_documents


def test_streaming_matches_batch(spark, tmp_path):
    rows = [
        (d["url"], d["warc_ts"], d["html"], d["text"], d["lang"])
        for d in fixture_documents()
        if len(d["html"] or b"") < 64 * 1024  # keep the stream light
    ]
    docs = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    in_dir = str(tmp_path / "in")
    docs.repartition(4).write.parquet(in_dir)

    out_dir = str(tmp_path / "out")
    q = extraction_stream(
        spark, in_dir, out_dir, str(tmp_path / "ckpt"), max_files_per_trigger=2
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir + "/extracted")
    assert got.count() == len(rows)  # every url accounted once

    # byte-identical vs the batch path
    from fusus_spark.extraction.pipeline import extract_stage, extracted_from_stage

    batch = extracted_from_stage(extract_stage(docs)).select("url", "extracted_text")
    stream = got.select("url", "extracted_text")
    assert batch.exceptAll(stream).count() == 0
    assert stream.exceptAll(batch).count() == 0

    words = spark.read.parquet(out_dir + "/words")
    assert words.where(F.col("word").isNull()).count() == 0


def test_micro_batch_rerun_replaces_its_output(spark, tmp_path):
    """foreachBatch is at-least-once: a micro-batch re-run after a crash
    calls the sink again with the same batch id, and its output must be
    replaced, not appended a second time."""
    from fusus_spark.extraction.pipeline import extract_stage, words_from_stage
    from fusus_spark.streaming.ingest import write_micro_batch

    rows = [
        (d["url"], d["warc_ts"], d["html"], d["text"], d["lang"])
        for d in fixture_documents()
        if len(d["html"] or b"") < 64 * 1024
    ][:8]
    docs = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    out_dir = str(tmp_path / "out")
    write_micro_batch(docs, 3, out_dir)
    write_micro_batch(docs, 3, out_dir)

    got = spark.read.parquet(out_dir + "/extracted")
    assert got.count() == got.select("url").distinct().count() == len(rows)
    assert {r["batch_id"] for r in got.select("batch_id").distinct().collect()} == {3}
    words = spark.read.parquet(out_dir + "/words")
    assert words.count() == words_from_stage(extract_stage(docs)).count() > 0


def test_dedup_stream_keeps_one_per_hash(spark, tmp_path):
    """In-stream exact dedup (dropDuplicatesWithinWatermark) keeps
    exactly one survivor per content hash, agreeing with the batch
    dedup's notion of duplicate (md5 of normalized text)."""
    import datetime as dt

    from fusus_spark.streaming import dedup_stream

    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    for i in range(30):
        text = f"doc body {i % 10}"  # 10 distinct texts, 3 copies each
        rows.append(
            (f"https://ex.com/{i}", base + dt.timedelta(minutes=i),
             f"<p>{text}</p>".encode(), text, "en")
        )
    docs = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    in_dir = str(tmp_path / "din")
    docs.repartition(3).write.parquet(in_dir)

    q = dedup_stream(spark, in_dir, str(tmp_path / "dckpt"), "dedup_docs")
    q.awaitTermination(120)

    got = spark.table("dedup_docs").collect()
    hashes = [r["content_hash"] for r in got]
    assert len(hashes) == len(set(hashes)) == 10  # one survivor per text


def test_dedup_stream_survivor_contract_under_arrival_order(spark, tmp_path):
    """The documented determinism boundary, executable: the surviving
    HASH SET equals the batch dedup's regardless of file arrival order;
    WHICH twin survives is arrival-dependent (first-arriving), unlike
    the batch min-id representative — the docstring contract."""
    import datetime as dt

    from fusus_spark.streaming import dedup_stream

    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        (f"https://ex.com/{i}", base + dt.timedelta(minutes=i),
         f"<p>doc body {i % 5}</p>".encode(), f"doc body {i % 5}", "en")
        for i in range(20)
    ]
    want = {r[3] for r in rows}
    sets = []
    for tag, order in (("fwd", rows), ("rev", list(reversed(rows)))):
        in_dir = str(tmp_path / f"din_{tag}")
        docs = spark.createDataFrame(order, schema=DOCUMENTS_SCHEMA)
        # one file per row-chunk so arrival order differs between runs
        docs.coalesce(4).write.parquet(in_dir)
        q = dedup_stream(spark, in_dir, str(tmp_path / f"ck_{tag}"), f"dd_{tag}")
        q.awaitTermination(120)
        sets.append({r["content_hash"] for r in spark.table(f"dd_{tag}").collect()})
    assert sets[0] == sets[1] and len(sets[0]) == len(want)


def test_dedup_stream_vs_store_flags_snapshot_dups(spark, tmp_path):
    """Stream-static incremental dedup: arriving docs carrying content
    already in the hash store come out is_seen=true; novel docs false;
    within-stream twins still collapse to one row first — and the
    verdict agrees with the batch incremental_dedup on the same input."""
    import datetime as dt

    from fusus_spark.operators.dedup import incremental_dedup, write_hash_store
    from fusus_spark.streaming import dedup_stream_vs_store

    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    snap_rows = [
        (f"https://old.com/{i}", base, f"<p>old {i}</p>".encode(), f"old body {i}", "en")
        for i in range(20)
    ]
    snap = spark.createDataFrame(snap_rows, schema=DOCUMENTS_SCHEMA)
    store = str(tmp_path / "store")
    write_hash_store(snap.withColumn("doc_id", F.monotonically_increasing_id()), store)

    rows = []
    for i in range(30):
        # 10 docs repeat snapshot content, 10 are novel, each twice in-stream
        text = f"old body {i % 10}" if i % 3 == 0 else f"new body {i % 10}"
        rows.append(
            (f"https://new.com/{i}", base + dt.timedelta(minutes=i),
             f"<p>{text}</p>".encode(), text, "en")
        )
    docs = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    in_dir = str(tmp_path / "sin")
    docs.repartition(3).write.parquet(in_dir)

    q = dedup_stream_vs_store(
        spark, in_dir, store, str(tmp_path / "sckpt"), "dedup_vs_store"
    )
    q.awaitTermination(120)
    got = spark.table("dedup_vs_store").collect()
    hashes = [r["content_hash"] for r in got]
    assert len(hashes) == len(set(hashes))  # in-stream twins collapsed
    # per-hash verdict equals the batch incremental_dedup on the stream input
    batch = {
        r["content_hash"]: r["is_seen"]
        for r in incremental_dedup(
            docs.withColumn("doc_id", F.monotonically_increasing_id()), store
        ).select("content_hash", "is_seen").distinct().collect()
    }
    for r in got:
        assert batch[r["content_hash"]] == r["is_seen"], r
    assert {r["is_seen"] for r in got} == {True, False}


def test_snapshot_foldback_stream_equals_batch(spark, tmp_path):
    """The streaming fold-back emits exactly the batch
    extend_snapshots rows on the same input: 200s append fresh hashes,
    dup 304s collapse to one carried-forward row, no-prior and
    null-hash-only urls drop."""
    import datetime as dt

    from fusus_spark.operators.frontier import extend_snapshots
    from fusus_spark.streaming import snapshot_foldback_stream

    store_rows = [
        ("http://churn.com/a", "h1", "2026-01-01"),
        ("http://churn.com/a", "h2", "2026-01-08"),
        ("http://static.com/b", "same", "2026-01-01"),
        ("http://etag.com/v", "e1", "2026-01-01"),
        ("http://etag.com/v", None, "2026-01-08"),  # omitted validator
        ("http://omit.com/w", None, "2026-01-08"),  # never observed
    ]
    store = str(tmp_path / "store")
    snaps = spark.createDataFrame(
        store_rows, "url string, content_hash string, crawl_date string"
    )
    snaps.write.parquet(store)

    base = dt.datetime(2026, 2, 1, tzinfo=dt.timezone.utc)
    fetch_rows = [
        ("http://churn.com/a", base, 200, "h3"),
        ("http://static.com/b", base, 304, None),
        ("http://static.com/b", base + dt.timedelta(minutes=1), 304, None),
        ("http://etag.com/v", base, 304, None),     # -> carries e1
        ("http://omit.com/w", base, 304, None),     # no observed prior: drop
        ("http://ghost.com/q", base, 304, None),    # never in store: drop
        ("http://gone.com/x", base, 404, None),     # silent
    ]
    fetches = spark.createDataFrame(
        fetch_rows,
        "url string, fetch_ts timestamp, http_status int, content_hash string",
    )
    in_dir = str(tmp_path / "fin")
    fetches.repartition(3).write.parquet(in_dir)

    q = snapshot_foldback_stream(
        spark, in_dir, store, str(tmp_path / "fckpt"), "foldback",
        crawl_date="2026-02-01",
    )
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.table("foldback").collect())
    want = sorted(
        tuple(r)
        for r in extend_snapshots(
            snaps, fetches.drop("fetch_ts"), crawl_date="2026-02-01"
        ).collect()
    )
    assert got == want
    assert ("http://etag.com/v", "e1", "2026-02-01") in got
    assert len([r for r in got if r[0] == "http://static.com/b"]) == 1

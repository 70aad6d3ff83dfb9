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


def test_user_counts_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState running totals: the LAST update emitted
    per user equals the batch aggregate over all events."""
    import datetime as dt

    from fusus_spark.streaming import user_counts_stream

    base = dt.datetime(2026, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), i % 5, "click", float(i % 7), "{}")
        for i in range(100)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    in_dir = str(tmp_path / "evs")
    # several files so state genuinely carries across micro-batches
    ev.repartition(4).write.parquet(in_dir)

    q = user_counts_stream(spark, in_dir, str(tmp_path / "sckpt"), "user_counts")
    q.awaitTermination(120)

    # update mode: several rows per user over time; the final one wins
    got_rows = spark.table("user_counts").collect()
    finals = {}
    for r in got_rows:  # memory sink appends in batch order
        finals[r["user_id"]] = (r["n_events"], r["sum_value_e4"])
    from pyspark.sql import functions as F

    # the contract is sum(round(value*1e4)) — per-event scaling keeps
    # the total exact-integer and arrival-order independent
    want = {
        r["user_id"]: (r["n"], r["sv"])
        for r in ev.groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 10000)).cast("bigint").alias("sv"),
        ).collect()
    }
    assert finals == want
    assert len(got_rows) > len(finals)  # state really updated across batches


def test_windowed_watermark_stream_matches_batch(spark, tmp_path):
    """Watermarked windowed agg (append mode): emitted windows == the
    batch aggregation restricted to windows closed by the final
    watermark (max event time - delay); nothing more, nothing less."""
    import datetime as dt

    from fusus_spark.streaming import windowed_event_counts_stream

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for hour in range(8):  # 8 hourly windows
        for k in range(10):
            rows.append(
                (eid, base + dt.timedelta(hours=hour, minutes=k * 5),
                 k % 3, "click" if k % 2 else "view", float(k), "{}")
            )
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    in_dir = str(tmp_path / "ev")
    # The file source processes oldest-modified files first; write one
    # file per 2-hour chunk IN EVENT-TIME ORDER so the watermark
    # advances monotonically batch by batch (out-of-order files would
    # legitimately drop the earlier windows as late data). Mtimes are
    # set explicitly (monotonic, whole seconds) — sleeping between
    # writes is slower and can still tie on coarse-timestamp
    # filesystems.
    import glob as _glob
    import os as _os

    stamped: set[str] = set()
    for i, h0 in enumerate(range(0, 8, 2)):
        lo = base + dt.timedelta(hours=h0)
        hi = base + dt.timedelta(hours=h0 + 2)
        chunk = ev.where((ev["ts"] >= lo) & (ev["ts"] < hi))
        chunk.coalesce(1).write.mode("append").parquet(in_dir)
        for f in _glob.glob(in_dir + "/*.parquet"):
            if f not in stamped:
                _os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
                stamped.add(f)

    q = windowed_event_counts_stream(
        spark, in_dir, str(tmp_path / "ckpt"), "win_ev",
        window="1 hour", watermark="1 hour", max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    got = {
        (r["w_start"], r["event_type"], r["n"], r["sum_value_e4"])
        for r in spark.table("win_ev").collect()
    }

    from pyspark.sql import functions as F

    max_ts = ev.agg(F.max("ts")).first()[0]
    final_watermark = max_ts - dt.timedelta(hours=1)
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value") * 10000).cast("bigint").alias("sum_value_e4"))
        .where(F.col("w.end") <= F.lit(final_watermark))
    )
    want = {
        (r["w"]["start"], r["event_type"], r["n"], r["sum_value_e4"])
        for r in batch.collect()
    }
    assert got == want
    assert len(got) > 0  # the stream actually emitted closed windows


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

"""WARC source tests: synthetic crawl segments -> documents rows ->
full extraction (the Common-Crawl ingestion path, ISO 28500 layout)."""

from __future__ import annotations

import gzip

from fusus_spark.sources.ledger import load_done
from fusus_spark.sources.warc import iter_warc_records, read_warc


def _record(wtype: str, uri: str | None, date: str, block: bytes) -> bytes:
    head = [b"WARC/1.0", f"WARC-Type: {wtype}".encode()]
    if uri:
        head.append(f"WARC-Target-URI: {uri}".encode())
    head.append(f"WARC-Date: {date}".encode())
    head.append(f"Content-Length: {len(block)}".encode())
    return b"\r\n".join(head) + b"\r\n\r\n" + block + b"\r\n\r\n"


def _http(body: bytes, status: bytes = b"200 OK",
          extra: tuple[bytes, ...] = ()) -> bytes:
    head = [b"HTTP/1.1 " + status, b"Content-Type: text/html"] + list(extra)
    return b"\r\n".join(head) + b"\r\n\r\n" + body


def _segment() -> bytes:
    return (
        _record("warcinfo", None, "2026-01-01T00:00:00Z", b"software: test\r\n")
        + _record(
            "request", "http://ex.com/a", "2026-01-01T00:00:01Z",
            b"GET /a HTTP/1.1\r\n\r\n",
        )
        + _record(
            "response", "http://ex.com/a", "2026-01-01T00:00:01Z",
            _http(b"<html><body><nav><a>x</a></nav><main><p>alpha beta</p></main></body></html>"),
        )
        + _record(
            "response", "http://ex.com/b", "2026-02-03T04:05:06Z",
            _http(b"<html><body><p>gamma delta epsilon</p></body></html>"),
        )
    )


def test_iter_warc_records_plain_and_gzip():
    seg = _segment()
    for payload in (seg, gzip.compress(seg)):
        recs = list(iter_warc_records(payload))
        assert [r[0] for r in recs] == ["http://ex.com/a", "http://ex.com/b"]
        assert recs[0][1] == "2026-01-01T00:00:01Z"
        assert recs[0][2] == 200 and recs[0][3] == "text/html"
        assert recs[0][4] is None  # no charset parameter on the fixture
        assert recs[0][5] is None  # no X-Robots-Tag header
        assert recs[0][6].startswith(b"<html><body><nav>")
        assert recs[1][6] == b"<html><body><p>gamma delta epsilon</p></body></html>"


def test_iter_warc_records_robustness():
    seg = _segment()
    # truncated tail: complete records still come through
    assert len(list(iter_warc_records(seg[: len(seg) - 40]))) >= 1
    # corrupt gzip: no raise, empty or partial output
    bad = bytearray(gzip.compress(seg))
    bad[len(bad) // 2] ^= 0xFF
    list(iter_warc_records(bytes(bad)))  # must not raise
    assert list(iter_warc_records(b"")) == []
    assert list(iter_warc_records(b"not a warc at all")) == []
    # body cap applies at ingest
    big = _record(
        "response", "http://ex.com/big", "2026-01-01T00:00:00Z",
        _http(b"x" * 1000),
    )
    recs = list(iter_warc_records(big, max_body_bytes=100))
    assert len(recs[0][6]) == 100


def test_http_envelope_parsing():
    """The envelope fields: status, normalized media type, lowered
    X-Robots-Tag (repeated headers comma-joined), and the no-envelope
    null fallback that keeps the raw block as the body."""
    from fusus_spark.sources.warc import parse_http_envelope

    seg = (
        _record("response", "http://ex.com/301", "2026-01-01T00:00:00Z",
                _http(b"<html>moved</html>", status=b"301 Moved Permanently",
                      extra=(b"Location: http://ex.com/new",
                             b"Location: http://ex.com/duplicate")))
        + _record("response", "http://ex.com/404", "2026-01-01T00:00:00Z",
                  _http(b"<html>gone</html>", status=b"404 Not Found",
                        extra=(b'ETag: "v123"',
                               b"Last-Modified: Tue, 17 Feb 2026 08:00:00 GMT")))
        + _record("response", "http://ex.com/opt", "2026-01-01T00:00:00Z",
                  b"HTTP/1.1 200 OK\r\nContent-Type: TEXT/Html; charset=UTF-8\r\n"
                  b"X-Robots-Tag: NOINDEX\r\nX-Robots-Tag: googlebot: nofollow\r\n"
                  b"\r\n<html>secret</html>")
        + _record("response", "http://ex.com/raw", "2026-01-01T00:00:00Z",
                  b"<html>no envelope at all</html>")
    )
    recs = {r[0]: r for r in iter_warc_records(seg)}
    assert recs["http://ex.com/301"][2] == 301
    # singleton header: FIRST Location wins — a protocol-violating
    # duplicate must not comma-join into a "urlA, urlB" pseudo-url
    # that would poison the redirect graph
    assert recs["http://ex.com/301"][9] == "http://ex.com/new"
    assert recs["http://ex.com/404"][2] == 404
    assert recs["http://ex.com/404"][9] is None  # no Location header
    assert recs["http://ex.com/404"][7] == '"v123"'  # ETag kept verbatim
    assert recs["http://ex.com/404"][8] == "Tue, 17 Feb 2026 08:00:00 GMT"
    assert recs["http://ex.com/opt"][2] == 200
    assert recs["http://ex.com/opt"][3] == "text/html"  # params dropped, lowered
    assert recs["http://ex.com/opt"][4] == "utf-8"       # charset parameter
    assert recs["http://ex.com/opt"][5] == "noindex, googlebot: nofollow"
    assert recs["http://ex.com/raw"][2] is None
    assert recs["http://ex.com/raw"][6] == b"<html>no envelope at all</html>"
    assert recs["http://ex.com/raw"][7] is None  # no validators either
    # malformed status lines: flagged null, block preserved verbatim
    for junk in (b"HTTP/1.1 OK\r\n\r\nx", b"HTTP/1.1 20 OK\r\n\r\nx", b"HTTP/"):
        st, hdrs, body = parse_http_envelope(junk)
        assert st is None and hdrs == {} and body == junk
    # LF-only line endings (review finding): the document must survive
    lf = b"HTTP/1.1 200 OK\nContent-Type: text/html\n\n<html>lf body</html>"
    st, hdrs, body = parse_http_envelope(lf)
    assert st == 200 and hdrs["content-type"] == "text/html"
    assert body == b"<html>lf body</html>"
    # LF-only headers with CRLFCRLF later in the BODY: earliest wins
    lf2 = b"HTTP/1.1 200 OK\nX: y\n\npre\r\n\r\npost"
    assert parse_http_envelope(lf2)[2] == b"pre\r\n\r\npost"
    # header-truncated (no terminator anywhere): nothing is lost
    trunc = b"HTTP/1.1 200 OK\r\nContent-Type: text/html"
    assert parse_http_envelope(trunc) == (None, {}, trunc)


def test_extract_job_warc_input(spark, tmp_path):
    """The spark-submit job body end-to-end in warc mode: segments ->
    bucketed table -> resumable per-bucket extraction -> words table."""
    from fusus_spark.jobs.extract_job import run_job

    (tmp_path / "segs").mkdir()
    (tmp_path / "segs" / "seg-0.warc.gz").write_bytes(gzip.compress(_segment()))
    out = str(tmp_path / "words")
    summary = run_job(
        spark,
        input_path=str(tmp_path / "segs"),
        output_path=out,
        ledger_path=str(tmp_path / "ledger"),
        n_buckets=2,
        input_format="warc",
    )
    assert summary["processed"] == 2
    words = load_done(spark, out, str(tmp_path / "ledger"), "words")
    got = {(r["url"], r["word"]) for r in words.collect()}
    assert ("http://ex.com/a", "alpha") in got
    assert ("http://ex.com/b", "epsilon") in got
    # re-run resumes: everything skipped
    summary2 = run_job(
        spark,
        input_path=str(tmp_path / "segs"),
        output_path=out,
        ledger_path=str(tmp_path / "ledger"),
        n_buckets=2,
        input_format="warc",
    )
    assert summary2["skipped"] == 2 and summary2["processed"] == 0

    # changed segments -> ingest redone, lineage flips, buckets redo
    (tmp_path / "segs" / "seg-1.warc").write_bytes(_segment())
    summary3 = run_job(
        spark,
        input_path=str(tmp_path / "segs"),
        output_path=out,
        ledger_path=str(tmp_path / "ledger"),
        n_buckets=2,
        input_format="warc",
    )
    assert summary3["processed"] == 2
    assert load_done(spark, out, str(tmp_path / "ledger"), "words").count() == 10  # 5 words x 2 files


def test_extract_job_warc_by_date(spark, tmp_path):
    """--by-date makes WARC ingest write the crawl_date=D/bucket=k table;
    the same job then restarts per (date, bucket), and one load_done
    call reads every date."""
    from fusus_spark.jobs.extract_job import run_job

    (tmp_path / "segs").mkdir()
    (tmp_path / "segs" / "seg-0.warc").write_bytes(_segment())
    out, led = str(tmp_path / "words"), str(tmp_path / "ledger")
    job = dict(input_path=str(tmp_path / "segs"), output_path=out, ledger_path=led,
               n_buckets=2, input_format="warc", by_date=True)
    summary = run_job(spark, **job)
    assert summary["buckets"] == summary["processed"] == 4  # 2 dates x 2 buckets
    assert run_job(spark, **job, dates=["2026-02-03"])["skipped"] == 2
    words = load_done(spark, out, led, "words")
    got = {(str(r["crawl_date"]), r["url"], r["word"]) for r in words.collect()}
    assert len(got) == 5
    assert ("2026-01-01", "http://ex.com/a", "alpha") in got
    assert ("2026-02-03", "http://ex.com/b", "epsilon") in got


def test_read_warc_to_extraction(spark, tmp_path):
    """End-to-end: segment files (.warc + .warc.gz) -> documents rows ->
    the fused extraction stage, boilerplate stripped."""
    import datetime as dt

    from pyspark.sql import functions as F

    from fusus_spark.extraction.pipeline import (
        extract_stage,
        extracted_from_stage,
        repartition_salted,
    )

    seg = _segment()
    (tmp_path / "seg-00000.warc").write_bytes(seg)
    # nested segment dir — the real crawl layout (<segment>/warc/...)
    (tmp_path / "segment-0" / "warc").mkdir(parents=True)
    (tmp_path / "segment-0" / "warc" / "seg-00001.warc.gz").write_bytes(
        gzip.compress(seg)
    )
    (tmp_path / "ignored.txt").write_bytes(b"junk")

    docs = read_warc(spark, str(tmp_path), lang="en")
    rows = docs.collect()
    assert len(rows) == 4  # 2 responses x 2 segment files (one nested)
    by_url = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    assert set(by_url) == {"http://ex.com/a", "http://ex.com/b"}
    assert by_url["http://ex.com/b"][0]["warc_ts"] == dt.datetime(2026, 2, 3, 4, 5, 6)
    assert all(r["text"] is None and r["lang"] == "en" for r in rows)

    env = extracted_from_stage(extract_stage(repartition_salted(docs, 2)))
    got = {
        (r["url"], r["extracted_text"])
        for r in env.where(F.col("status") == "extracted").collect()
    }
    # nav chrome stripped from /a; both segments agree byte-identically
    assert got == {
        ("http://ex.com/a", "alpha beta"),
        ("http://ex.com/b", "gamma delta epsilon"),
    }


def test_decode_http_body():
    """Wire-encoding fidelity: chunked framing removed, gzip/deflate
    bodies decompressed, malformed/unknown encodings verbatim."""
    import zlib

    from fusus_spark.sources.warc import decode_http_body

    chunked = b"5\r\nhello\r\n6;ext=1\r\n world\r\n0\r\n\r\n"
    assert decode_http_body({"transfer-encoding": "chunked"}, chunked) == b"hello world"
    html = b"<html><p>compressed page</p></html>"
    assert decode_http_body({"content-encoding": "gzip"}, gzip.compress(html)) == html
    assert decode_http_body({"content-encoding": "deflate"},
                            zlib.compress(html)) == html
    co = zlib.compressobj(wbits=-15)
    raw_deflate = co.compress(html) + co.flush()
    assert decode_http_body({"content-encoding": "deflate"}, raw_deflate) == html
    # chunked THEN gzip (the wire order servers apply in reverse)
    gz = gzip.compress(html)
    framed = (hex(len(gz))[2:].encode() + b"\r\n" + gz + b"\r\n0\r\n\r\n")
    assert decode_http_body(
        {"transfer-encoding": "chunked", "content-encoding": "gzip"}, framed
    ) == html
    # malformed framing / truncated gzip / unknown coding: verbatim
    assert decode_http_body({"transfer-encoding": "chunked"}, b"zz\r\nnope") == b"zz\r\nnope"
    assert decode_http_body({"content-encoding": "gzip"}, b"\x1f\x8bnope") == b"\x1f\x8bnope"
    assert decode_http_body({"content-encoding": "br"}, b"brotli-bytes") == b"brotli-bytes"
    assert decode_http_body({}, html) == html
    # gzip-bomb guard: decompressed output is CAPPED, not ballooned
    bomb = gzip.compress(b"\x00" * 10_000_000)
    out = decode_http_body({"content-encoding": "gzip"}, bomb, max_bytes=4096)
    assert len(out) == 4096


def test_warc_records_decode_wire_encodings():
    """End-to-end through the record walk: a chunked+gzip response
    yields the DOCUMENT bytes, not the wire bytes."""
    html = b"<html><main><p>zeta eta theta</p></main></html>"
    gz = gzip.compress(html)
    block = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
             b"Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n\r\n"
             + hex(len(gz))[2:].encode() + b"\r\n" + gz + b"\r\n0\r\n\r\n")
    seg = _record("response", "http://ex.com/gz", "2026-01-01T00:00:00Z", block)
    recs = list(iter_warc_records(seg))
    assert recs[0][2] == 200 and recs[0][6] == html


def test_decode_html_charset_hint():
    """Transport-charset priority: strict UTF-8 first (mis-declared
    headers defused), then the hint, then meta sniff, then latin-1."""
    from fusus_spark.extraction.domparse import decode_html

    ru = "<html><p>привет мир</p></html>"
    cp1251 = ru.encode("cp1251")
    # invalid utf-8 + correct hint + NO meta: hint decodes it
    assert decode_html(cp1251, "windows-1251") == ru
    # utf-8 bytes + WRONG hint: strict utf-8 wins, hint never consulted
    assert decode_html(ru.encode("utf-8"), "windows-1251") == ru
    # bogus hint falls through to the meta sniff
    with_meta = ('<html><head><meta charset="windows-1251"></head>'
                 "<p>привет</p></html>").encode("cp1251")
    assert "привет" in decode_html(with_meta, "no-such-charset")
    # no hint at all: pre-existing behavior (latin-1 fallback) intact
    assert decode_html(cp1251) == cp1251.decode("latin-1")


def test_warc_header_charset_reaches_extraction(spark, tmp_path):
    """End-to-end: a cp1251 page whose ONLY charset signal is the
    Content-Type header decodes correctly through ingest + the fused
    extraction stage (the charset column rides the bucketed table)."""
    from pyspark.sql import functions as F

    from fusus_spark.extraction.pipeline import (
        extract_stage,
        extracted_from_stage,
        repartition_salted,
    )

    body = "<html><main><p>привет мир сегодня</p></main></html>".encode("cp1251")
    block = (b"HTTP/1.1 200 OK\r\n"
             b"Content-Type: text/html; charset=Windows-1251\r\n\r\n" + body)
    seg = _record("response", "http://ru.ex.com/p", "2026-01-01T00:00:00Z", block)
    (tmp_path / "seg.warc").write_bytes(seg)
    docs = read_warc(spark, str(tmp_path))
    assert docs.collect()[0]["charset"] == "windows-1251"
    env = extracted_from_stage(extract_stage(repartition_salted(docs, 2)))
    row = env.where(F.col("status") == "extracted").collect()[0]
    assert row["extracted_text"] == "привет мир сегодня"


def test_warc_envelope_duckdb_oracle(spark, tmp_path):
    """Beyond-cap in-test oracle: DuckDB recomputes the envelope table
    (http_status, content_type, x_robots_tag) from the raw HTTP block
    strings with RE2 extracts and the hashes must match (single-header
    fixtures — the repeated-header comma-join is hand-pinned in
    test_http_envelope_parsing)."""
    import duckdb

    from tools.parity import value_hash

    blocks = [
        ("http://o.com/1", _http(b"<p>ok</p>")),
        ("http://o.com/2", _http(b"<p>moved</p>", status=b"301 Moved Permanently")),
        ("http://o.com/3", _http(b"<p>gone</p>", status=b"404 Not Found")),
        ("http://o.com/4",
         b"HTTP/1.1 200 OK\r\nContent-Type: TEXT/Html; charset=UTF-8\r\n"
         b"X-Robots-Tag: NOINDEX, nofollow\r\n\r\n<p>opt-out</p>"),
        ("http://o.com/5", b"<p>no envelope</p>"),
        ("http://o.com/6", b"HTTP/1.1 junk status\r\nContent-Type: a/b\r\n\r\nx"),
    ]
    seg = b"".join(
        _record("response", url, "2026-01-01T00:00:00Z", blk)
        for url, blk in blocks
    )
    (tmp_path / "seg.warc").write_bytes(seg)
    sdf = read_warc(spark, str(tmp_path)).select(
        "url", "http_status", "content_type", "x_robots_tag"
    )
    srows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.sql("CREATE TABLE blocks (url VARCHAR, block VARCHAR)")
    con.executemany(
        "INSERT INTO blocks VALUES (?, ?)",
        [(u, b.decode("latin-1")) for u, b in blocks],
    )
    orc = con.sql(r"""
WITH env AS (
  SELECT url,
    TRY_CAST(nullif(regexp_extract(block,
      '^HTTP/[^ \t\r\n]+[ \t]+([0-9]{3})([ \t\r\n]|$)', 1), '') AS INT)
      AS http_status,
    chr(13) || chr(10) || split_part(
      block, chr(13) || chr(10) || chr(13) || chr(10), 1) AS head
  FROM blocks
)
SELECT url, http_status,
  CASE WHEN http_status IS NOT NULL THEN
    nullif(lower(trim(split_part(regexp_extract(head,
      '(?i)\r\n[ \t]*content-type[ \t]*:[ \t]*([^\r\n]*)', 1), ';', 1))), '')
  END AS content_type,
  CASE WHEN http_status IS NOT NULL THEN
    nullif(lower(trim(regexp_extract(head,
      '(?i)\r\n[ \t]*x-robots-tag[ \t]*:[ \t]*([^\r\n]*)', 1))), '')
  END AS x_robots_tag
FROM env
""")
    orows = [tuple(r) for r in orc.fetchall()]
    assert len(srows) == len(orows) == len(blocks)
    assert sorted(sdf.columns) == sorted(orc.columns)
    assert value_hash(sdf.columns, srows) == value_hash(orc.columns, orows)


def test_extract_job_filters_non_200_and_header_robots(spark, tmp_path):
    """Job-level consent + hygiene drive: non-200 records never reach
    extraction, and with --respect-robots an X-Robots-Tag: noindex page
    is dropped map-side before the parse (the header half of the
    protocol, merged by operators.robots via the retained envelope)."""
    from pyspark.sql import functions as F

    from fusus_spark.jobs.extract_job import run_job

    seg = (
        _record("response", "http://ex.com/keep", "2026-01-01T00:00:00Z",
                _http(b"<html><p>alpha beta</p></html>"))
        + _record("response", "http://ex.com/optout", "2026-01-01T00:00:00Z",
                  _http(b"<html><p>gamma delta</p></html>",
                        extra=(b"X-Robots-Tag: noindex",)))
        + _record("response", "http://ex.com/gone", "2026-01-01T00:00:00Z",
                  _http(b"<html><p>not found page</p></html>",
                        status=b"404 Not Found"))
        + _record("response", "http://ex.com/moved", "2026-01-01T00:00:00Z",
                  _http(b"<html><p>redirect stub</p></html>",
                        status=b"301 Moved Permanently",
                        extra=(b"Location: http://ex.com/keep",)))
        + _record("response", "http://ex.com/dead-moved", "2026-01-01T00:00:00Z",
                  _http(b"<html><p>redirect, target unknown</p></html>",
                        status=b"302 Found"))
    )
    (tmp_path / "segs").mkdir()
    (tmp_path / "segs" / "seg-0.warc").write_bytes(seg)

    # without consent filtering: 200s only (404/301 flagged out at ingest)
    run_job(
        spark,
        input_path=str(tmp_path / "segs"),
        output_path=str(tmp_path / "words"),
        ledger_path=str(tmp_path / "ledger"),
        n_buckets=2,
        input_format="warc",
    )
    urls = {
        r["url"]
        for r in load_done(spark, str(tmp_path / "words"), str(tmp_path / "ledger"), "words").collect()
    }
    assert urls == {"http://ex.com/keep", "http://ex.com/optout"}
    # the bucketed table kept the envelope columns for downstream tiers,
    # and the Location-bearing 3xx survives ENVELOPE-ONLY (null html,
    # never extracted) so resolve_redirects can be fed from the table;
    # the Location-less 302 and the 404 are dropped outright
    table = spark.read.parquet(str(tmp_path / "words.table"))
    assert {"http_status", "content_type", "x_robots_tag", "location"} <= set(
        table.columns
    )
    non200 = table.where(F.col("http_status") != 200).collect()
    assert [(r["url"], r["http_status"], r["location"], r["html"])
            for r in non200] == [
        ("http://ex.com/moved", 301, "http://ex.com/keep", None)
    ]

    # with consent filtering: the header opt-out goes too
    run_job(
        spark,
        input_path=str(tmp_path / "segs"),
        output_path=str(tmp_path / "words2"),
        ledger_path=str(tmp_path / "ledger2"),
        n_buckets=2,
        input_format="warc",
        table_dir=str(tmp_path / "words.table"),  # reuse the ingested table
        respect_robots=True,
    )
    urls2 = {
        r["url"]
        for r in load_done(spark, str(tmp_path / "words2"), str(tmp_path / "ledger2"), "words").collect()
    }
    assert urls2 == {"http://ex.com/keep"}


def test_extract_job_html_only(spark, tmp_path):
    """--html-only: declared non-html media never reaches the bucketed
    table; envelope-less and html-typed records do. The flag is part of
    the ingest fingerprint, so toggling it re-ingests."""
    seg = (
        _record("response", "http://ex.com/page", "2026-01-01T00:00:00Z",
                _http(b"<html><p>iota kappa</p></html>"))
        + _record("response", "http://ex.com/img", "2026-01-01T00:00:00Z",
                  b"HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n\r\n"
                  b"\x89PNG fake pixels")
        + _record("response", "http://ex.com/raw", "2026-01-01T00:00:00Z",
                  b"<html><p>no envelope lambda mu</p></html>")
    )
    (tmp_path / "segs").mkdir()
    (tmp_path / "segs" / "seg-0.warc").write_bytes(seg)

    from fusus_spark.jobs.extract_job import run_job

    run_job(
        spark,
        input_path=str(tmp_path / "segs"),
        output_path=str(tmp_path / "w"),
        ledger_path=str(tmp_path / "l"),
        n_buckets=2,
        input_format="warc",
        html_only=True,
    )
    table = spark.read.parquet(str(tmp_path / "w.table"))
    assert {r["url"] for r in table.select("url").collect()} == {
        "http://ex.com/page", "http://ex.com/raw"
    }
    # toggling the flag re-ingests (fingerprint includes it)
    summary = run_job(
        spark,
        input_path=str(tmp_path / "segs"),
        output_path=str(tmp_path / "w"),
        ledger_path=str(tmp_path / "l"),
        n_buckets=2,
        input_format="warc",
        html_only=False,
    )
    assert summary["processed"] == 2  # lineage flipped, buckets redone
    table2 = spark.read.parquet(str(tmp_path / "w.table"))
    assert table2.count() == 3


# ------------------------------------------------------------ fuzz hardening


def test_decode_http_body_fuzz_never_raises():
    """Property: arbitrary header values + arbitrary body bytes must
    never raise and never EXPAND beyond the cap (the gzip-bomb guard)."""
    from hypothesis import given, settings, strategies as st

    from fusus_spark.sources.warc import decode_http_body

    @settings(max_examples=300, deadline=None)
    @given(
        st.binary(max_size=300),
        st.sampled_from(["", "chunked", "Chunked, gzip"]),
        st.sampled_from(["", "gzip", "x-gzip", "deflate", "br", "junk"]),
    )
    def check(body: bytes, te: str, ce: str) -> None:
        headers = {}
        if te:
            headers["transfer-encoding"] = te
        if ce:
            headers["content-encoding"] = ce
        out = decode_http_body(headers, body, max_bytes=1024)
        assert isinstance(out, bytes) and len(out) <= max(len(body), 1024)

    check()


def test_iter_warc_records_truncation_never_fabricates():
    """Property: a TRUNCATED segment (bytes untouched, tail cut at any
    offset) never FABRICATES a url: every yielded uri is a genuine url
    or a truncation-prefix of one (a cut landing inside the
    WARC-Target-URI header line shortens the value; it can never splice
    other records' bytes into it), and records only ever disappear."""
    from hypothesis import given, settings, strategies as st

    seg = _segment()
    valid_urls = {"http://ex.com/a", "http://ex.com/b"}

    @settings(max_examples=200, deadline=None)
    @given(st.integers(min_value=0, max_value=len(seg)))
    def check(i: int) -> None:
        recs = list(iter_warc_records(seg[:i]))
        assert len(recs) <= 2
        for uri, *_rest in recs:
            assert any(v.startswith(uri) for v in valid_urls), uri

    check()


def test_iter_warc_records_fuzz_never_raises():
    """Property: ANY byte mutation / junk injection of a segment must
    parse without raising — the poison-segment guarantee the module
    header promises (truncation-only fabrication is pinned separately
    above; arbitrary mutation can legitimately alter a uri byte, so
    here the property is no-raise + bounded, type-correct output)."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    seg = _segment()

    @settings(
        max_examples=200,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        st.one_of(
            # random binary junk
            st.binary(max_size=400),
            # real segment, truncated anywhere
            st.integers(min_value=0, max_value=len(seg)).map(lambda i: seg[:i]),
            # real segment with one byte flipped anywhere
            st.tuples(
                st.integers(min_value=0, max_value=len(seg) - 1),
                st.integers(min_value=1, max_value=255),
            ).map(lambda t: seg[: t[0]] + bytes([seg[t[0]] ^ t[1]]) + seg[t[0] + 1 :]),
            # junk prefix spliced onto a valid tail
            st.binary(max_size=60).map(lambda j: j + seg),
            # gzip of a mutated segment
            st.integers(min_value=0, max_value=len(seg)).map(
                lambda i: gzip.compress(seg[:i])
            ),
        )
    )
    def check(payload: bytes) -> None:
        recs = list(iter_warc_records(payload))
        assert len(recs) <= 4  # never MORE records than the segment holds
        for uri, date, status, ctype, cset, xrt, body, etag, lastmod, loc in recs:
            assert isinstance(uri, str) and isinstance(body, bytes)
            assert status is None or isinstance(status, int)
            # a mutated LENGTH field must never leak one record's block
            # bytes into another record's url field
            assert len(uri) < 200

    check()


# ---------------------------------------------------------------------------
# WET export


def _wet_df(spark):
    import datetime as dt

    rows = [
        ("https://ex.com/a", dt.datetime(2026, 1, 2, 3, 4, 5), "Hello world"),
        # non-ascii: Content-Length must count UTF-8 octets, not chars
        ("https://ex.com/u", dt.datetime(2026, 1, 2, 3, 4, 5), "héllo\nzwei"),
        # dropped: null and empty text (WET carries conversions only)
        ("https://ex.com/null", dt.datetime(2026, 1, 2, 3, 4, 5), None),
        ("https://ex.com/empty", dt.datetime(2026, 1, 2, 3, 4, 5), ""),
    ]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, extracted_text string"
    )


def test_wet_records_byte_exact(spark):
    import hashlib

    from fusus_spark.sources.warc import wet_records

    got = {r["url"]: r["record"] for r in wet_records(_wet_df(spark)).collect()}
    assert set(got) == {"https://ex.com/a", "https://ex.com/u"}

    def expect(url: str, ts: str, text: str) -> str:
        h = hashlib.md5(f"{url}\x1f{ts}".encode()).hexdigest()
        rid = f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"
        body = text.encode("utf-8")
        return (
            "WARC/1.0\r\n"
            "WARC-Type: conversion\r\n"
            f"WARC-Target-URI: {url}\r\n"
            "WARC-Date: 2026-01-02T03:04:05Z\r\n"
            f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Block-Digest: md5:{hashlib.md5(body).hexdigest()}\r\n"
            "Content-Type: text/plain\r\n"
            f"Content-Length: {len(body)}\r\n\r\n" + text + "\r\n\r\n"
        )

    assert got["https://ex.com/a"] == expect(
        "https://ex.com/a", "2026-01-02 03:04:05.000000", "Hello world"
    )
    assert got["https://ex.com/u"] == expect(
        "https://ex.com/u", "2026-01-02 03:04:05.000000", "héllo\nzwei"
    )


def test_wet_records_matches_duckdb_oracle(spark):
    import duckdb

    from fusus_spark.sources.warc import wet_records
    from tools.parity import value_hash

    sdf = wet_records(_wet_df(spark))
    srows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.sql("CREATE TABLE t (url VARCHAR, warc_ts TIMESTAMP, extracted_text VARCHAR)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?)",
        [(r["url"], r["warc_ts"], r["extracted_text"])
         for r in _wet_df(spark).collect()],
    )
    orc = con.sql(r"""
WITH s AS (
  SELECT url, extracted_text AS txt,
    md5(url || chr(31) || strftime(warc_ts, '%Y-%m-%d %H:%M:%S.%f')) AS h,
    strftime(warc_ts, '%Y-%m-%dT%H:%M:%SZ') AS d
  FROM t WHERE extracted_text IS NOT NULL AND extracted_text <> ''
)
SELECT url,
  'WARC/1.0' || chr(13) || chr(10) ||
  'WARC-Type: conversion' || chr(13) || chr(10) ||
  'WARC-Target-URI: ' || url || chr(13) || chr(10) ||
  'WARC-Date: ' || d || chr(13) || chr(10) ||
  'WARC-Record-ID: <urn:uuid:' ||
    substr(h,1,8) || '-' || substr(h,9,4) || '-' || substr(h,13,4) || '-' ||
    substr(h,17,4) || '-' || substr(h,21,12) || '>' || chr(13) || chr(10) ||
  'WARC-Block-Digest: md5:' || md5(txt) || chr(13) || chr(10) ||
  'Content-Type: text/plain' || chr(13) || chr(10) ||
  'Content-Length: ' || octet_length(encode(txt)) ||
  chr(13) || chr(10) || chr(13) || chr(10) || txt ||
  chr(13) || chr(10) || chr(13) || chr(10) AS record
FROM s
""")
    orows = [tuple(r) for r in orc.fetchall()]
    assert len(srows) == len(orows) > 0
    assert sorted(sdf.columns) == sorted(orc.columns)
    assert value_hash(sdf.columns, srows) == value_hash(orc.columns, orows)


def test_write_wet_roundtrip(spark, tmp_path):
    """A standard WET-reader walk (gunzip, split on the WARC/1.0
    version line, parse Content-Length, take that many octets) must
    recover every record byte-identically from the written files, and
    the files must hold exactly the record bytes back to back (ISO
    28500 framing: one closing double-CRLF, nothing between records)."""
    import glob
    import gzip as gz

    from fusus_spark.sources.warc import wet_records, write_wet

    out = str(tmp_path / "wet")
    write_wet(_wet_df(spark), out)

    blobs = b"".join(
        gz.open(p, "rb").read()
        for p in sorted(glob.glob(out + "/part-*.txt.gz"))
    )
    assert blobs == b"".join(
        r["record"].encode("utf-8") for r in wet_records(_wet_df(spark)).collect()
    )
    recs = [b"WARC/1.0" + c for c in blobs.split(b"WARC/1.0") if c]
    texts = {}
    for rec in recs:
        head, _, rest = rec.partition(b"\r\n\r\n")
        headers = dict(
            ln.split(b": ", 1) for ln in head.split(b"\r\n")[1:] if b": " in ln
        )
        n = int(headers[b"Content-Length"])
        uri = headers[b"WARC-Target-URI"].decode()
        texts[uri] = rest[:n].decode("utf-8")
        assert headers[b"WARC-Type"] == b"conversion"
    assert texts == {
        "https://ex.com/a": "Hello world",
        "https://ex.com/u": "héllo\nzwei",
    }


def test_wet_records_session_timezone_independent(spark):
    """The same instants must yield byte-identical records under ANY
    spark.sql.session.timeZone (review finding): WARC-Date renders the
    UTC wall time and the record-id hash keys on it."""
    from fusus_spark.sources.warc import wet_records

    def run():
        return {r["url"]: r["record"]
                for r in wet_records(_wet_df(spark)).collect()}

    base = run()
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        shifted = run()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert shifted == base
    assert "WARC-Date: 2026-01-02T03:04:05Z" in base["https://ex.com/a"]


def test_wet_records_dst_gap_and_subsecond_identity(spark):
    """Second-pass review pins: (1) an instant whose UTC wall time
    falls in the session timezone's DST spring-forward gap must still
    render its true UTC time under that session tz (epoch arithmetic,
    not LocalDateTime round-trips); (2) records distinct only at
    sub-second precision must get DISTINCT record ids."""
    import datetime as dt

    from fusus_spark.sources.warc import wet_records

    utc = dt.timezone.utc
    rows = [
        ("https://ex.com/gap", dt.datetime(2026, 3, 8, 2, 30, 0, tzinfo=utc),
         "gap text"),
        ("https://ex.com/sub", dt.datetime(2026, 1, 2, 3, 4, 5, 111111,
                                           tzinfo=utc), "s1"),
        ("https://ex.com/sub2", dt.datetime(2026, 1, 2, 3, 4, 5, 999999,
                                            tzinfo=utc), "s1"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, extracted_text string"
    )

    def run():
        return {r["url"]: r["record"] for r in wet_records(df).collect()}

    base = run()
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        shifted = run()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert shifted == base
    assert "WARC-Date: 2026-03-08T02:30:00Z" in base["https://ex.com/gap"]

    import re
    ids = {u: re.search(r"urn:uuid:([0-9a-f-]+)", rec).group(1)
           for u, rec in base.items()}
    assert ids["https://ex.com/sub"] != ids["https://ex.com/sub2"]

"""WARC ingest: Common-Crawl segment files -> the documents table shape.

The north-star input is "an Iceberg table of Common-Crawl-style pages";
this source is the step BEFORE that table exists — reading raw crawl
segments (ISO 28500 WARC format, the format Common Crawl publishes) and
producing rows in the mandated (url, warc_ts, html, text, lang) shape
ready to be written into the partitioned/bucketed table.

Physical design for 100-TB crawls:

* **file-level parallelism** — WARC gzip members are not splittable at
  arbitrary offsets, but a crawl ships as ~64k segment files of ~1 GB
  (Common Crawl's actual layout), so ``spark.read.format("binaryFile")``
  over the segment directory gives one task per file — tens of
  thousands of independent tasks with zero coordination, which is the
  standard ingestion plan for this format;
* **streaming record walk inside the task** — ``mapInPandas`` over
  (path, content) decompresses and walks records sequentially per
  file; only `response` records with an http payload are emitted;
* **bounded payloads** — bodies beyond ``max_body_bytes`` are truncated
  at ingest (the same maxHits-guard recorded later as status='capped'
  by the extraction stage's own cap).

Parsing is pure stdlib (gzip/io/email-free manual header walk): record
headers up to a blank line, ``Content-Length`` bytes of block, and for
response records the HTTP ENVELOPE (status line + response headers)
parsed rather than skipped — real crawl WARCs are full of 301/404
records, and the headers carry the authoritative ``Content-Type``
(sniffing is only the fallback) and ``X-Robots-Tag`` (the header half
of the robots consent protocol; fusus_spark.operators.robots merges
it). Malformed records/files are skipped, never raised — at crawl
scale a poison segment must not kill the job.

Reference role analog: the imageFileList directory scan feeding per-page
processing (/root/reference/fusus/book.py:189-240) — here the "directory"
is a crawl segment listing and the per-item payload is a WARC record.
"""

from __future__ import annotations

import gzip
import io
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from fusus_spark.session import drop_zip_finders

WARC_DOCS_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "http_status int, content_type string, charset string, "
    "x_robots_tag string, etag string, last_modified string, "
    "location string"
)

DEFAULT_MAX_BODY_BYTES = 4 * 1024 * 1024


def _parse_headers(stream: io.BufferedIOBase) -> dict[str, str] | None:
    """Read header lines up to a blank line; None on EOF before any."""
    headers: dict[str, str] = {}
    first = True
    while True:
        line = stream.readline()
        if not line:
            return None if first else headers
        line = line.rstrip(b"\r\n")
        if not line:
            if first:  # tolerate inter-record blank lines
                continue
            return headers
        first = False
        if b":" in line:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("latin-1")] = v.strip().decode("latin-1")
        # WARC/1.x version line and continuation junk are ignored
    return headers


def parse_http_envelope(block: bytes) -> tuple[int | None, dict[str, str], bytes]:
    """Split an HTTP response block into (status, headers, body).

    The status line must look like ``HTTP/x.y NNN ...``; header names
    are lowercased, values stripped, repeated headers comma-joined (the
    RFC 9110 list semantics — multiple ``X-Robots-Tag`` lines union
    their directives). LF-only line endings (misbehaving servers,
    captured verbatim) are tolerated: the terminator is the first
    CRLFCRLF or bare LFLF. A block that does not start with a status
    line, has a malformed status token, or has NO header terminator at
    all (header-truncated capture) returns ``(None, {}, block)`` — the
    whole block stays the body, the pre-envelope behavior — so the
    document bytes are flagged (null status), never dropped or
    mis-split.
    """
    if not block.startswith(b"HTTP/"):
        return None, {}, block
    # EARLIEST terminator wins: LF-only headers may precede a body that
    # itself contains CRLFCRLF
    sep_crlf = block.find(b"\r\n\r\n")
    sep_lf = block.find(b"\n\n")
    if sep_crlf == -1 and sep_lf == -1:
        return None, {}, block  # no terminator: keep every byte
    if sep_lf == -1 or (sep_crlf != -1 and sep_crlf < sep_lf):
        sep, sep_len = sep_crlf, 4
    else:
        sep, sep_len = sep_lf, 2
    head, body = block[:sep], block[sep + sep_len :]
    lines = [ln.rstrip(b"\r") for ln in head.split(b"\n")]
    first = lines[0].split(None, 2)
    if len(first) < 2 or not first[1].isdigit() or len(first[1]) != 3:
        return None, {}, block
    status = int(first[1])
    headers: dict[str, str] = {}
    for line in lines[1:]:
        if b":" not in line:
            continue
        k, _, v = line.partition(b":")
        key = k.strip().lower().decode("latin-1")
        val = v.strip().decode("latin-1")
        if key in headers:
            # list-valued headers combine per RFC 9110 §5.3; singleton
            # headers (Location, ETag, Content-Type) keep the FIRST
            # value — comma-joining a duplicated Location would poison
            # the redirect graph with "urlA, urlB" pseudo-urls
            if key == "x-robots-tag":
                headers[key] = f"{headers[key]}, {val}"
        else:
            headers[key] = val
    return status, headers, body


def decode_http_body(
    headers: dict[str, str], body: bytes, max_bytes: int | None = None
) -> bytes:
    """Undo the wire encodings a raw capture preserves, stdlib-only:
    ``Transfer-Encoding: chunked`` (hex-size chunk walk) first, then
    ``Content-Encoding: gzip/x-gzip/deflate`` (zlib; deflate tried
    both zlib-wrapped and raw per the historical server split). Servers
    send these on real fetches, so a WARC body is often NOT the
    document bytes — without this step a chunked page leaks hex chunk
    sizes into the extracted text and a gzip page is binary junk.
    Brotli (``br``) has no stdlib codec: left verbatim (the sniffed
    media type will not be html, so extraction routes it as junk
    rather than mis-parsing). Any malformed framing returns the bytes
    as-is — the never-raise ingest contract. ``max_bytes`` caps the
    DECOMPRESSED size via zlib's bounded decompressobj — a 4 KiB gzip
    bomb must not expand into executor memory; the truncated output
    falls under the same ingest cap every body gets.
    """
    import zlib

    def inflate(data: bytes, wbits: int) -> bytes:
        d = zlib.decompressobj(wbits=wbits)
        return d.decompress(data, max_bytes) if max_bytes else d.decompress(data)

    if "chunked" in headers.get("transfer-encoding", "").lower():
        out = []
        i = 0
        n = len(body)
        try:
            while i < n:
                eol = body.index(b"\r\n", i)
                size = int(body[i:eol].split(b";", 1)[0], 16)  # ext ignored
                if size == 0:
                    break
                start = eol + 2
                if start + size > n:
                    raise ValueError("truncated chunk")
                out.append(body[start : start + size])
                i = start + size + 2  # skip the chunk's trailing CRLF
            body = b"".join(out)
        except (ValueError, IndexError):
            pass  # malformed framing: keep the raw bytes
    enc = headers.get("content-encoding", "").strip().lower()
    if enc in ("gzip", "x-gzip"):
        try:
            body = inflate(body, wbits=47)  # gzip or zlib header
        except zlib.error:
            pass
    elif enc == "deflate":
        try:
            body = inflate(body, wbits=15)
        except zlib.error:
            try:
                body = inflate(body, wbits=-15)  # raw deflate
            except zlib.error:
                pass
    return body


def _media_type(content_type: str | None) -> str | None:
    """The bare lowercased media type of a Content-Type value
    (``text/HTML; charset=utf-8`` -> ``text/html``)."""
    if not content_type:
        return None
    return content_type.split(";", 1)[0].strip().lower() or None


_CHARSET_PARAM_RE = re.compile(r"charset\s*=\s*[\"']?\s*([A-Za-z0-9_\-]+)", re.I)


def _charset(content_type: str | None) -> str | None:
    """The charset parameter of a Content-Type value, lowercased
    (``text/html; charset=Windows-1251`` -> ``windows-1251``) — the
    transport-layer decode hint extraction consults when strict UTF-8
    fails (domparse.decode_html)."""
    if not content_type:
        return None
    m = _CHARSET_PARAM_RE.search(content_type)
    return m.group(1).lower() if m else None


def iter_warc_records(
    payload: bytes, max_body_bytes: int = DEFAULT_MAX_BODY_BYTES
) -> Iterator[tuple]:
    """Yield (target_uri, warc_date, http_status, content_type,
    charset, x_robots_tag, http_body, etag, last_modified, location)
    for each response record.

    ``content_type`` is the normalized media type (parameters dropped,
    lowercased); ``x_robots_tag`` is the lowercased header value with
    repeated headers comma-joined. Records whose block carries no HTTP
    envelope yield null status/headers with the raw block as body.
    Accepts plain or gzip (including multi-member, Common Crawl's
    layout) payloads; malformed tails are dropped silently.
    """
    if payload[:2] == b"\x1f\x8b":
        # GzipFile walks concatenated members transparently
        stream: io.BufferedIOBase = gzip.GzipFile(fileobj=io.BytesIO(payload))
    else:
        stream = io.BytesIO(payload)
    try:
        while True:
            headers = _parse_headers(stream)
            if not headers:
                return
            try:
                length = int(headers.get("content-length", "0"))
            except ValueError:
                return
            block = stream.read(length)
            if len(block) < length:
                return  # truncated file tail
            if (
                headers.get("warc-type", "").lower() == "response"
                and headers.get("warc-target-uri")
            ):
                status, http_headers, body = parse_http_envelope(block)
                if http_headers:
                    body = decode_http_body(http_headers, body, max_body_bytes)
                xrt = http_headers.get("x-robots-tag")
                ct = http_headers.get("content-type")
                yield (
                    headers["warc-target-uri"],
                    headers.get("warc-date"),
                    status,
                    _media_type(ct),
                    _charset(ct),
                    xrt.lower() if xrt else None,
                    body[:max_body_bytes],
                    # HTTP validators (RFC 9110): the change-detection
                    # signals the crawl frontier schedules revisits on
                    # (operators/frontier.url_change_stats hash_col)
                    http_headers.get("etag"),
                    http_headers.get("last-modified"),
                    # redirect target, verbatim (RFC 9110 §10.2.2 allows
                    # a RELATIVE reference — resolution against the url
                    # happens JVM-side in webgraph.resolve_redirects)
                    http_headers.get("location"),
                )
    except (OSError, EOFError):
        return  # corrupt gzip member: drop the rest of this segment


def read_warc(
    spark: SparkSession,
    path: str,
    *,
    max_body_bytes: int = DEFAULT_MAX_BODY_BYTES,
    lang: str | None = None,
) -> DataFrame:
    """Crawl segment files (``*.warc`` / ``*.warc.gz``) -> documents rows.

    Output is the input_hint shape (url, warc_ts, html, text, lang) —
    ``text`` is null (it is what extraction produces), ``lang`` the
    optional crawl-level hint — plus the HTTP envelope columns
    ``http_status`` / ``content_type`` / ``x_robots_tag``. Non-200
    records are FLAGGED, not dropped (a 301/404 body must never be
    silently ingested as a document NOR silently lost — the caller
    decides; jobs/extract_job keeps status 200 and envelope-less null
    rows). One task per segment file.
    """
    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        # crawls nest segments in subdirectories (<segment>/warc/...);
        # binaryFile lists only top-level files without this
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("path", "content")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            rows: dict[str, list] = {
                "url": [], "warc_ts": [], "html": [], "text": [], "lang": [],
                "http_status": [], "content_type": [], "charset": [],
                "x_robots_tag": [], "etag": [], "last_modified": [],
                "location": [],
            }
            for content in pdf["content"]:
                payload = bytes(content) if content is not None else b""
                for (uri, date, status, ctype, cset, xrt, body,
                     etag, lastmod, location) in iter_warc_records(
                         payload, max_body_bytes):
                    rows["url"].append(uri)
                    # keep the tz-aware UTC instant: a naive timestamp
                    # would be re-interpreted in the session timezone
                    # (ours pins UTC, but the instant must not depend
                    # on that) — Arrow converts the aware value exactly
                    rows["warc_ts"].append(
                        pd.to_datetime(date, utc=True, errors="coerce")
                        if date else None
                    )
                    rows["html"].append(body)
                    rows["text"].append(None)
                    rows["lang"].append(lang)
                    rows["http_status"].append(status)
                    rows["content_type"].append(ctype)
                    rows["charset"].append(cset)
                    rows["x_robots_tag"].append(xrt)
                    rows["etag"].append(etag)
                    rows["last_modified"].append(lastmod)
                    rows["location"].append(location)
            pdf_out = pd.DataFrame(rows)
            # all-null int columns must stay integral for Arrow
            pdf_out["http_status"] = pdf_out["http_status"].astype("Int32")
            yield pdf_out

    return binary.mapInPandas(run, schema=WARC_DOCS_SCHEMA)


# ---------------------------------------------------------------------------
# WET export: the extraction output in Common Crawl's companion
# "conversion" format, so standard WET tooling can consume this
# engine's text directly.

_WET_END = "\r\n\r\n"  # the closing double-CRLF of every WET record


def wet_records(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "extracted_text",
) -> DataFrame:
    """(url, record) — one ISO 28500 ``WARC-Type: conversion`` record
    per extracted document, the record format WET files carry
    (header lines CRLF-joined, blank line, the plain-text block,
    closing double-CRLF).

    Deterministic by construction: ``WARC-Record-ID`` is a
    urn:uuid-shaped md5 of (url, timestamp) — re-running the job
    reproduces records byte-identically (the repo's resumability
    contract extends to the export). Two documented deviations from
    Common Crawl's emitter, both spec-legal: the block digest is
    ``md5:<hex>`` (WARC names the algorithm in the value; the house
    md5 rule keeps the DuckDB oracle bit-identical — CC uses
    sha1:base32, which neither engine can mirror without UDFs), and
    ``Content-Length`` counts the text's UTF-8 octets exactly
    (octet_length, not char length). Null/empty text rows are
    dropped (WET carries successful conversions only; the envelope
    table keeps the full ledger).

    One codegen'd projection, zero shuffle, zero Python. Write with
    ``write_wet`` (text sink, whole-file gzip) — per-record gzip
    members (CC's random-access framing) would need a custom
    committer; whole-file gzip is what ``spark.read.text`` and
    gunzip-based WET readers consume.

    Reference role analog: the plain-text page sink K6
    (/root/reference/fusus/page.py) — the same text, re-framed for an
    external consumer.
    """
    from pyspark.sql import functions as F

    url = F.col(url_col)
    txt = F.col(text_col)
    # timezone-independence by pure epoch arithmetic: date_format /
    # cast('string') render through spark.sql.session.timeZone, and
    # even to_utc_timestamp(ts, current_timezone()) round-trips
    # through a LocalDateTime that DST-gap instants shift by an hour
    # (review finding, second pass). unix_micros is instant-based and
    # timezone-free; days/seconds-of-day division + date_add from the
    # epoch date is the same discipline write_bucketed_input uses for
    # crawl_date. The hash key keeps FULL microsecond precision —
    # sub-second-distinct records must not collide on record-id.
    us = F.unix_micros(F.col(ts_col))
    secs = F.floor(us / F.lit(1_000_000)).cast("bigint")
    frac = (us - secs * F.lit(1_000_000)).cast("bigint")
    days = F.floor(secs / F.lit(86400)).cast("bigint")
    sod = (secs - days * F.lit(86400)).cast("bigint")

    def _pad2(c):
        return F.lpad(c.cast("string"), 2, "0")

    d_str = F.date_add(
        F.to_date(F.lit("1970-01-01")), days.cast("int")
    ).cast("string")
    hh = _pad2(F.floor(sod / F.lit(3600)))
    mi = _pad2(F.floor(F.pmod(sod, F.lit(3600)) / F.lit(60)))
    ss = _pad2(F.pmod(sod, F.lit(60)))
    hms = F.concat(hh, F.lit(":"), mi, F.lit(":"), ss)
    ts_key = F.concat(
        d_str, F.lit(" "), hms, F.lit("."),
        F.lpad(frac.cast("string"), 6, "0"),
    )
    warc_date = F.concat(d_str, F.lit("T"), hms, F.lit("Z"))
    h = F.md5(F.concat_ws("\x1f", url, ts_key))
    record_id = F.concat(
        F.lit("urn:uuid:"),
        F.substring(h, 1, 8), F.lit("-"),
        F.substring(h, 9, 4), F.lit("-"),
        F.substring(h, 13, 4), F.lit("-"),
        F.substring(h, 17, 4), F.lit("-"),
        F.substring(h, 21, 12),
    )
    header = F.concat_ws(
        "\r\n",
        F.lit("WARC/1.0"),
        F.lit("WARC-Type: conversion"),
        F.concat(F.lit("WARC-Target-URI: "), url),
        F.concat(F.lit("WARC-Date: "), warc_date),
        F.concat(F.lit("WARC-Record-ID: <"), record_id, F.lit(">")),
        F.concat(F.lit("WARC-Block-Digest: md5:"), F.md5(F.encode(txt, "UTF-8"))),
        F.lit("Content-Type: text/plain"),
        F.concat(
            F.lit("Content-Length: "),
            F.octet_length(F.encode(txt, "UTF-8")).cast("string"),
        ),
    )
    return df.where(txt.isNotNull() & (txt != "")).select(
        url.alias("url"),
        F.concat(header, F.lit("\r\n\r\n"), txt, F.lit(_WET_END)).alias(
            "record"
        ),
    )


def write_wet(df: DataFrame, path: str, **wet_kwargs) -> None:
    """Write ``wet_records(df)`` as gzipped text parts (one task per
    partition — the same file-level parallelism read_warc consumes).
    The sink's line separator is each record's closing double-CRLF, so
    the parts hold exactly the record bytes, back to back."""
    from pyspark.sql import functions as F

    (
        wet_records(df, **wet_kwargs)
        .select(F.expr(f"left(record, length(record) - {len(_WET_END)})"))
        .write.mode("overwrite")
        .option("compression", "gzip")
        .option("lineSep", _WET_END)
        .text(path)
    )

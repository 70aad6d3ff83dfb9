"""JVM MIME sniffing: hand cases per magic, row-for-row equality with
the Python sniff table the Arrow UDFs use, and the generated DuckDB
CASE oracle (the beyond-cap operator contract)."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from fusus_spark.functions.mime import (
    _BMP_HEX,
    _HTML_HEX,
    _SVG_HEX,
    _XML_HEX,
    sniff_mime,
)
from fusus_spark.operators.multimodal import sniff_media_type
from tools.parity import value_hash


def sniff_mime_sql(hex_expr: str) -> str:
    """The DuckDB mirror of :func:`sniff_mime` as a SQL CASE over an
    uppercase-hex prefix expression (e.g. ``substr(hex(payload), 1,
    80)``) — generated from the SAME pattern constants so the two can
    never drift. Null blob handling is the caller's (hex(NULL) is
    NULL, and every branch of this CASE is NULL-safe to that)."""
    h = hex_expr

    def pre(p: str) -> str:
        return f"starts_with({h}, '{p}')"

    riff_sub = f"substr({h}, 17, 8)"
    long_enough = f"length({h}) >= 24"
    return f"""CASE
  WHEN {h} IS NULL THEN NULL
  WHEN {pre('52494646')} AND {long_enough} AND {riff_sub} = '57454250' THEN 'image/webp'
  WHEN {pre('52494646')} AND {long_enough} AND {riff_sub} = '57415645' THEN 'audio/wav'
  WHEN {pre('52494646')} AND {long_enough} AND {riff_sub} = '41564920' THEN 'video/avi'
  WHEN {long_enough} AND substr({h}, 9, 8) = '66747970'
    THEN CASE WHEN substr({h}, 17, 6) = '4D3441' THEN 'audio/mp4' ELSE 'video/mp4' END
  WHEN length({h}) >= 52 AND regexp_matches({h}, '{_BMP_HEX}') THEN 'image/bmp'
  WHEN {pre('89504E47')} THEN 'image/png'
  WHEN {pre('FFD8FF')} THEN 'image/jpeg'
  WHEN {pre('47494638')} THEN 'image/gif'
  WHEN {pre('49492A00')} OR {pre('4D4D002A')} THEN 'image/tiff'
  WHEN {pre('52494646')} THEN 'audio/wav-or-avi'
  WHEN {pre('494433')} THEN 'audio/mpeg'
  WHEN {pre('664C6143')} THEN 'audio/flac'
  WHEN {pre('4F676753')} THEN 'audio/ogg'
  WHEN {pre('1A45DFA3')} THEN 'video/webm'
  WHEN {pre('255044462D')} THEN 'application/pdf'
  WHEN {pre('1F8B')} THEN 'application/gzip'
  WHEN {pre('504B0304')} OR {pre('504B0506')} OR {pre('504B0708')} THEN 'application/zip'
  WHEN regexp_matches({h}, '{_HTML_HEX}') THEN 'text/html'
  WHEN regexp_matches({h}, '{_XML_HEX}') THEN 'text/xml'
  WHEN regexp_matches({h}, '{_SVG_HEX}') THEN 'image/svg+xml'
  ELSE 'application/octet-stream'
END"""


def _media_payloads() -> list[tuple[str, bytes]]:
    """Payloads whose type the Python table also knows — the
    equality set."""
    return [
        ("png", b"\x89PNG\r\n\x1a\n" + b"\x00" * 16),
        ("jpeg", b"\xff\xd8\xff\xe0\x00\x10JFIF"),
        ("gif", b"GIF89a\x01\x00\x01\x00"),
        ("webp", b"RIFF\x10\x00\x00\x00WEBPVP8 "),
        ("wav", b"RIFF\x24\x00\x00\x00WAVEfmt "),
        ("avi", b"RIFF\x24\x00\x00\x00AVI LIST"),
        ("riff_short", b"RIFFxxx"),
        ("mp4", b"\x00\x00\x00\x18ftypisom\x00\x00\x02\x00"),
        ("m4a", b"\x00\x00\x00\x18ftypM4A \x00\x00\x02\x00"),
        ("bmp", b"BM" + b"\x00" * 12 + (40).to_bytes(4, "little")
                + (2).to_bytes(4, "little") + (2).to_bytes(4, "little")),
        ("bm_text", b"BM short"),
        ("id3", b"ID3\x04\x00\x00\x00\x00\x00\x00"),
        ("flac", b"fLaC\x00\x00\x00\x22"),
        ("ogg", b"OggS\x00\x02"),
        ("webm", b"\x1a\x45\xdf\xa3\x42\x86"),
        ("tiff_le", b"II*\x00\x08\x00\x00\x00"),
        ("tiff_be", b"MM\x00*\x00\x00\x00\x08"),
        ("junk", b"\x00\x01\x02\x03"),
        ("empty", b""),
    ]


def _doc_payloads() -> list[tuple[str, bytes]]:
    return [
        ("html_ws", b"  \n\t<html lang=en>"),
        ("doctype", b"<!DOCTYPE html><html>"),
        ("html_bom", b"\xef\xbb\xbf<HTML>"),
        ("xml", b"<?xml version='1.0'?><root/>"),
        ("svg", b"<svg xmlns='http://www.w3.org/2000/svg'>"),
        ("pdf", b"%PDF-1.7\n%\xe2\xe3"),
        ("gzip", b"\x1f\x8b\x08\x00"),
        ("zip", b"PK\x03\x04\x14\x00"),
        ("plain", b"just some plain text"),
        ("htmlish_late", b"x<html>"),  # tag not at start -> octet
    ]


_EXPECT = {
    "png": "image/png", "jpeg": "image/jpeg", "gif": "image/gif",
    "webp": "image/webp", "wav": "audio/wav", "avi": "video/avi",
    "riff_short": "audio/wav-or-avi", "mp4": "video/mp4",
    "m4a": "audio/mp4", "bmp": "image/bmp",
    "bm_text": "application/octet-stream", "id3": "audio/mpeg",
    "flac": "audio/flac", "ogg": "audio/ogg", "webm": "video/webm",
    "tiff_le": "image/tiff", "tiff_be": "image/tiff",
    "junk": "application/octet-stream", "empty": "application/octet-stream",
    "html_ws": "text/html", "doctype": "text/html", "html_bom": "text/html",
    "xml": "text/xml", "svg": "image/svg+xml", "pdf": "application/pdf",
    "gzip": "application/gzip", "zip": "application/zip",
    "plain": "application/octet-stream",
    "htmlish_late": "application/octet-stream",
}


def _df(spark):
    rows = _media_payloads() + _doc_payloads() + [("null_payload", None)]
    return spark.createDataFrame(rows, "name string, payload binary")


def test_sniff_hand_cases(spark):
    got = {
        r["name"]: r["mime"]
        for r in _df(spark).select("name", sniff_mime("payload").alias("mime")).collect()
    }
    for name, want in _EXPECT.items():
        assert got[name] == want, (name, got[name], want)
    assert got["null_payload"] is None


def test_sniff_agrees_with_python_table(spark):
    """The JVM expression and the in-UDF Python table must never
    disagree on the types the Python table knows."""
    got = {
        r["name"]: r["mime"]
        for r in _df(spark).select("name", sniff_mime("payload").alias("mime")).collect()
    }
    for name, payload in _media_payloads():
        assert got[name] == sniff_media_type(payload), name


def test_sniff_matches_duckdb_oracle(spark):
    sdf = _df(spark).select("name", sniff_mime("payload").alias("mime"))
    srows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.sql("CREATE TABLE p (name VARCHAR, payload BLOB)")
    con.executemany(
        "INSERT INTO p VALUES (?, ?)",
        _media_payloads() + _doc_payloads() + [("null_payload", None)],
    )
    orc = con.sql(
        "SELECT name, "
        + sniff_mime_sql("substr(hex(payload), 1, 80)")
        + " AS mime FROM p"
    )
    orows = [tuple(r) for r in orc.fetchall()]
    assert len(srows) == len(orows)
    assert value_hash(sdf.columns, srows) == value_hash(orc.columns, orows)

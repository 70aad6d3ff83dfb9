"""JVM-side payload MIME sniffing — the map-side fallback when the
HTTP envelope declares nothing.

sources/warc.py retains ``Content-Type`` (the authoritative type;
extract_job's --html-only filters on the DECLARATION), but real
crawls carry payloads with no envelope, ``application/octet-stream``,
or plain lies. The WHATWG mime-sniffing algorithm's answer is magic
bytes; operators/multimodal.py already ships that table as the Python
``sniff_media_type`` used INSIDE the Arrow decode UDFs. This module
is the same table as a pure column expression, so the curation path
can classify or filter a 10^12-row corpus without a Python stage —
``sniff_mime`` extends the shared media table with the document types
the UDFs never see (html/xml/svg with the WHATWG leading-whitespace
+ BOM skip, pdf, gzip, zip).

Implementation: all matching happens on ``hex(substring(payload, 1,
40))`` — a 40-byte prefix covers every offset the table needs (RIFF
subtype at 8, ftyp at 4, the BMP DIB-size field at 14) and the hex
domain sidesteps the binary->string cast trap (Spark's cast is
lossy-permissive, DuckDB's ERRORS on invalid UTF-8 — hex() agrees
byte-for-byte in both engines, uppercase). Case-insensitive ASCII
tags become per-character nibble classes (``h``/``H`` -> ``[46]8``).
RE2-safe; the DuckDB oracle runs the identical patterns on
``substr(hex(payload), 1, 80)``.

Precedence mirrors ``sniff_media_type`` exactly for the shared media
types (tests assert row-for-row equality on the same payloads);
document types are checked after the media table, default
``application/octet-stream``; null payload -> null. The one
divergence from the Python BMP probe: JVM validates the DIB size
field only — the dims-positivity guard needs arithmetic the sniff
column doesn't pay for; parse_bmp_header remains the decoder of
record.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def _hexci(s: str) -> str:
    """Case-insensitive ASCII string as an uppercase-hex regex:
    letters get a first-nibble class (0x41 'A' vs 0x61 'a' differ
    only there), everything else is its exact hex pair."""
    out = []
    for ch in s:
        if ch.isalpha():
            u, lo = ord(ch.upper()), ord(ch.lower())
            out.append(f"[{u >> 4:X}{lo >> 4:X}]{u & 0xF:X}")
        else:
            out.append(f"{ord(ch):02X}")
    return "".join(out)


# WHATWG: skip a UTF-8 BOM and leading HTML whitespace before the tag
_LEAD = r"^(?:EFBBBF)?(?:20|09|0A|0C|0D)*"
_HTML_HEX = _LEAD + "3C(?:" + _hexci("html") + "|" + _hexci("!doctype") + ")"
_XML_HEX = _LEAD + "3C3F" + _hexci("xml")
_SVG_HEX = _LEAD + "3C" + _hexci("svg")
# BMP: 'BM' + DIB header size at byte 14 (hex chars 29-36, LE)
_BMP_HEX = r"^424D.{24}(?:0C|28|34|38|6C|7C)000000"


def sniff_mime(col: Column | str) -> Column:
    """Sniffed MIME type of a binary payload column (null payload ->
    null, unknown -> 'application/octet-stream'). One codegen'd
    expression over a 40-byte prefix; see the module docstring for
    the table and its precedence."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.hex(F.substring(c, 1, 40))

    def pre(p: str) -> Column:
        return h.startswith(p)

    riff_sub = F.substring(h, 17, 8)
    long_enough = F.length(h) >= 24  # the Python probe's len >= 12
    return (
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(pre("52494646") & long_enough & (riff_sub == "57454250"), F.lit("image/webp"))
        .when(pre("52494646") & long_enough & (riff_sub == "57415645"), F.lit("audio/wav"))
        .when(pre("52494646") & long_enough & (riff_sub == "41564920"), F.lit("video/avi"))
        .when(
            long_enough & (F.substring(h, 9, 8) == "66747970"),
            F.when(F.substring(h, 17, 6) == "4D3441", F.lit("audio/mp4")).otherwise(
                F.lit("video/mp4")
            ),
        )
        .when((F.length(h) >= 52) & h.rlike(_BMP_HEX), F.lit("image/bmp"))
        .when(pre("89504E47"), F.lit("image/png"))
        .when(pre("FFD8FF"), F.lit("image/jpeg"))
        .when(pre("47494638"), F.lit("image/gif"))
        .when(pre("49492A00") | pre("4D4D002A"), F.lit("image/tiff"))
        .when(pre("52494646"), F.lit("audio/wav-or-avi"))
        .when(pre("494433"), F.lit("audio/mpeg"))
        .when(pre("664C6143"), F.lit("audio/flac"))
        .when(pre("4F676753"), F.lit("audio/ogg"))
        .when(pre("1A45DFA3"), F.lit("video/webm"))
        .when(pre("255044462D"), F.lit("application/pdf"))
        .when(pre("1F8B"), F.lit("application/gzip"))
        .when(
            pre("504B0304") | pre("504B0506") | pre("504B0708"),
            F.lit("application/zip"),
        )
        .when(h.rlike(_HTML_HEX), F.lit("text/html"))
        .when(h.rlike(_XML_HEX), F.lit("text/xml"))
        .when(h.rlike(_SVG_HEX), F.lit("image/svg+xml"))
        .otherwise(F.lit("application/octet-stream"))
    )


"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are carried as ``binary`` columns with a
metadata struct; decode / feature-extract / resize / frame-sample run
as Arrow ``mapInPandas`` stages. The decode step itself is STUBBED in
this container (no image/audio libs): ``decode_stub`` produces a
deterministic fake feature vector from the bytes, and ``decode_real``
raises NotImplementedError with the intended library call — the
Spark-side plumbing (schema, batch shape, partitioning) is real and
tested either way.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from fusus_spark.session import drop_zip_finders

MEDIA_META_SCHEMA = (
    "url string, media_type string, n_bytes long, magic_hex string, "
    "width int, height int, feature array<float>"
)

# Magic-byte sniffing table (deterministic, offset-0 prefixes).
_MAGIC = [
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF8", "image/gif"),
    (b"II*\x00", "image/tiff"),
    (b"MM\x00*", "image/tiff"),
    (b"RIFF", "audio/wav-or-avi"),
    (b"ID3", "audio/mpeg"),
    (b"fLaC", "audio/flac"),
    (b"OggS", "audio/ogg"),
    (b"\x1a\x45\xdf\xa3", "video/webm"),
]


def sniff_media_type(payload: bytes) -> str:
    # RIFF is a container: the subtype lives at offset 8 (WEBP images
    # must not be typed as audio just because they share the prefix)
    if payload.startswith(b"RIFF") and len(payload) >= 12:
        sub = payload[8:12]
        if sub == b"WEBP":
            return "image/webp"
        if sub == b"WAVE":
            return "audio/wav"
        if sub == b"AVI ":
            return "video/avi"
    # ISO-BMFF: the ftyp box at offset 4 is the standard detector; the
    # major brand distinguishes audio-only containers
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        return "audio/mp4" if payload[8:11] == b"M4A" else "video/mp4"
    # BMP's magic is only 2 bytes ('BM' — also a plausible text
    # prefix), so require a parseable DIB header before claiming it
    if payload[:2] == b"BM" and parse_bmp_header(payload) is not None:
        return "image/bmp"
    for magic, mt in _MAGIC:
        if payload.startswith(magic):
            return mt
    return "application/octet-stream"


def parse_gif_header(payload: bytes) -> tuple[int, int] | None:
    """GIF87a/89a logical-screen dimensions: the 6-byte signature is
    followed by width/height as little-endian uint16 (GIF spec §17-18).
    Stdlib-only, validates the full signature."""
    import struct

    if len(payload) < 10 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", payload[6:10])
    if w == 0 or h == 0:
        return None
    return int(w), int(h)


def parse_webp_header(payload: bytes) -> tuple[int, int] | None:
    """WebP dimensions from the RIFF container: VP8X (canvas size as
    24-bit little-endian minus-one fields), VP8L (14-bit packed
    minus-one fields), or lossy VP8 (frame tag + 14-bit dimensions).
    Stdlib-only marker walk, per the WebP container spec."""
    import struct

    if len(payload) < 16 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        return None
    fourcc = payload[12:16]
    if fourcc == b"VP8X" and len(payload) >= 30:
        wm = int.from_bytes(payload[24:27], "little")
        hm = int.from_bytes(payload[27:30], "little")
        return wm + 1, hm + 1
    if fourcc == b"VP8L" and len(payload) >= 25 and payload[20] == 0x2F:
        bits = int.from_bytes(payload[21:25], "little")
        w = (bits & 0x3FFF) + 1
        h = ((bits >> 14) & 0x3FFF) + 1
        return w, h
    if fourcc == b"VP8 " and len(payload) >= 30:
        # key frame: 3-byte frame tag, start code 9D 01 2A, then dims
        if payload[23:26] != b"\x9d\x01\x2a":
            return None
        w, h = struct.unpack("<HH", payload[26:30])
        w, h = w & 0x3FFF, h & 0x3FFF
        if w == 0 or h == 0:  # corrupt/crafted: fall back, never (0,0)
            return None
        return w, h
    return None


def parse_bmp_header(payload: bytes) -> tuple[int, int] | None:
    """REAL (pure-stdlib) BMP dimension decode: 'BM' signature, then
    the DIB header at offset 14 — BITMAPCOREHEADER (size 12, uint16
    fields) or BITMAPINFOHEADER and its v4/v5 extensions (size >= 40,
    int32 fields; NEGATIVE height means top-down row order, the
    magnitude is the pixel height). None for anything else — the
    never-raise fallback contract of the sibling parsers."""
    if len(payload) < 26 or payload[:2] != b"BM":
        return None
    hdr = int.from_bytes(payload[14:18], "little")
    if hdr == 12:
        w = int.from_bytes(payload[18:20], "little")
        h = int.from_bytes(payload[20:22], "little")
    elif hdr in (40, 52, 56, 108, 124):
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = abs(int.from_bytes(payload[22:26], "little", signed=True))
    else:
        return None
    if w <= 0 or h == 0 or w > 2**31 - 1 or h > 2**31 - 1:
        # int32 guard incl. abs(INT32_MIN): same crafted-dims rule as
        # parse_png_ihdr — the int columns downstream must never see
        # an unrepresentable value (degrade, don't crash the stage)
        return None
    return int(w), int(h)


def parse_tiff_header(payload: bytes) -> tuple[int, int] | None:
    """REAL (pure-stdlib) TIFF dimension decode: byte-order mark
    (II little / MM big) + magic 42, then walk the FIRST IFD's 12-byte
    entries for ImageWidth (tag 256) / ImageLength (tag 257); SHORT(3)
    and LONG(4) single values are inline, LEFT-justified in the 4-byte
    value field per TIFF 6.0 §2. Bounded (one IFD, <= 512 entries),
    truncation -> None, never raises."""
    if len(payload) < 8:
        return None
    end = {b"II": "little", b"MM": "big"}.get(payload[:2])
    if end is None or int.from_bytes(payload[2:4], end) != 42:
        return None
    off = int.from_bytes(payload[4:8], end)
    if off + 2 > len(payload):
        return None
    n = int.from_bytes(payload[off:off + 2], end)
    if n > 512:
        return None
    w = h = None
    for i in range(n):
        e = off + 2 + 12 * i
        if e + 12 > len(payload):
            return None
        tag = int.from_bytes(payload[e:e + 2], end)
        typ = int.from_bytes(payload[e + 2:e + 4], end)
        cnt = int.from_bytes(payload[e + 4:e + 8], end)
        if tag in (256, 257) and cnt == 1 and typ in (3, 4):
            width = 2 if typ == 3 else 4
            val = int.from_bytes(payload[e + 8:e + 8 + width], end)
            if tag == 256:
                w = val
            else:
                h = val
    if not w or not h or w > 2**31 - 1 or h > 2**31 - 1:
        # int32 guard: a LONG of 0xFFFFFFFF from corruption must
        # degrade to None, not crash the Arrow int column downstream
        return None
    return int(w), int(h)


def decode_real(payload: bytes) -> tuple[int, int, list[float]]:
    """The real decode path — requires PIL/cv2/ffmpeg, absent here.

    Two narrow REAL slices exist without those libs: PNG header decode
    (``parse_png_ihdr``) and JPEG SOF-marker decode (``parse_jpeg_sof``),
    both pure stdlib — ``media_features`` and ``resize_images`` override
    width/height with them (via ``parse_image_dims``) on the stub path. With ``use_stub=False`` this function still raises
    first: pixel data / feature extraction genuinely needs the
    libraries, and half-real rows would be worse than an honest error."""
    raise NotImplementedError(
        "media decode requires an image/audio library not present in this "
        "container; production path: PIL.Image.open(io.BytesIO(payload)) "
        "or cv2.imdecode, then resize + feature extraction"
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def parse_png_ihdr(payload: bytes) -> tuple[int, int] | None:
    """REAL (pure-stdlib) PNG dimension decode: validate the 8-byte
    signature, the IHDR chunk layout (first chunk, length 13) and its
    CRC-32, then read big-endian width/height. Returns None for
    anything that is not a well-formed PNG header — callers fall back
    to the deterministic stub, so a truncated or corrupted payload can
    never crash the stage (the never-raise extraction contract)."""
    import struct
    import zlib

    if len(payload) < 33 or not payload.startswith(_PNG_SIG):
        return None
    length, ctype = struct.unpack(">I4s", payload[8:16])
    if ctype != b"IHDR" or length != 13:
        return None
    data = payload[16:29]
    (crc,) = struct.unpack(">I", payload[29:33])
    if zlib.crc32(b"IHDR" + data) & 0xFFFFFFFF != crc:
        return None
    w, h = struct.unpack(">II", data[:8])
    if w == 0 or h == 0 or w > 2**31 - 1 or h > 2**31 - 1:
        return None
    return int(w), int(h)


def parse_jpeg_sof(payload: bytes) -> tuple[int, int] | None:
    """REAL (pure-stdlib) JPEG dimension decode: walk the marker
    segments from SOI to the first frame header (SOF0/1/2/3/5/6/7/9/
    10/11/13/14/15 — every SOFn that carries geometry) and read the
    big-endian height/width fields. Returns None for anything not a
    well-formed JPEG prefix — same never-raise fallback contract as
    parse_png_ihdr."""
    import struct

    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    sof_markers = {
        0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
    }
    i = 2
    n = len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:
            return None  # marker desync: not a parseable JPEG
        # fill bytes: consecutive FFs pad between segments
        while i < n and payload[i] == 0xFF:
            i += 1
        if i >= n:
            return None
        marker = payload[i]
        i += 1
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers carry no length
        if marker == 0xD9 or marker == 0xDA:
            return None  # EOI / scan data before any SOF
        if i + 2 > n:
            return None
        (seg_len,) = struct.unpack(">H", payload[i : i + 2])
        if seg_len < 2 or i + seg_len > n:
            return None
        if marker in sof_markers:
            if seg_len < 7:
                return None
            h, w = struct.unpack(">HH", payload[i + 3 : i + 7])
            if w == 0 or h == 0:
                return None
            return int(w), int(h)
        i += seg_len
    return None


def parse_image_dims(payload: bytes) -> tuple[int, int] | None:
    """Real dimensions for the formats with a pure-stdlib path (PNG
    IHDR, JPEG SOF, GIF logical screen, WebP RIFF chunks, TIFF first
    IFD, BMP DIB header); None -> caller falls back to the stub."""
    return (
        parse_png_ihdr(payload)
        or parse_jpeg_sof(payload)
        or parse_gif_header(payload)
        or parse_webp_header(payload)
        or parse_tiff_header(payload)
        or parse_bmp_header(payload)
    )


def decode_stub(payload: bytes, dim: int = 8) -> tuple[int, int, list[float]]:
    """Deterministic fake decode: dims + feature vector from byte stats.

    Keeps the full Arrow pipeline exercised with stable outputs.
    """
    import hashlib

    h = hashlib.md5(payload).digest()
    width = 1 + h[0] % 1024
    height = 1 + h[1] % 1024
    feature = [round(b / 255.0, 6) for b in h[2 : 2 + dim]]
    return width, height, feature


def _map_payloads(df: DataFrame, payload_col: str, schema: str, row_fn) -> DataFrame:
    """The ONE (url, payload) Arrow-batch scaffold behind
    media_features and audio_meta: prune to (url, payload), coerce
    null payloads to b'' (a fix to this plumbing — e.g. the
    NaN-on-null class of bug — lands in every payload operator at
    once), call ``row_fn(url, payload) -> dict`` per row, and emit the
    batch under ``schema``. One fused mapInPandas stage."""
    pruned = df.select("url", F.col(payload_col).alias("payload"))
    names = [part.strip().split(" ")[0] for part in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            rows = {k: [] for k in names}
            for url, payload in zip(pdf["url"].tolist(), pdf["payload"].tolist()):
                payload = bytes(payload) if payload is not None else b""
                vals = row_fn(url, payload)
                for k in names:
                    rows[k].append(vals[k])
            yield pd.DataFrame(rows)

    return pruned.mapInPandas(run, schema=schema)


def media_features(df: DataFrame, payload_col: str = "payload",
                   use_stub: bool = True) -> DataFrame:
    """(url, payload binary) -> media metadata + feature vector.

    One fused mapInPandas pass (same physical shape as the HTML
    extraction stage: binary in, struct-ish columns out). PNG/JPEG/
    GIF/WebP payloads get REAL width/height from their headers (stdlib
    marker walks — no image lib needed); other formats use the decode
    stub (or decode_real when use_stub=False and the libs exist).
    """
    decode = decode_stub if use_stub else decode_real

    def row(url, payload):
        w, h, feat = decode(payload)
        real_dims = parse_image_dims(payload)
        if real_dims is not None:
            w, h = real_dims
        return {
            "url": url,
            "media_type": sniff_media_type(payload),
            "n_bytes": len(payload),
            "magic_hex": payload[:4].hex().upper(),
            "width": w,
            "height": h,
            "feature": feat,
        }

    return _map_payloads(df, payload_col, MEDIA_META_SCHEMA, row)


def parse_wav_header(payload: bytes):
    """WAV audio metadata from the RIFF container, stdlib-only: walks
    the chunk list for ``fmt `` (PCM layout: channels, sample rate,
    bits per sample) and ``data`` (payload size -> duration). Returns
    (n_channels, sample_rate_hz, bits_per_sample, duration_ms) or None
    for anything that is not a well-formed WAVE."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    i, n = 12, len(payload)
    fmt = None
    data_size = None
    while i + 8 <= n:
        cid = payload[i : i + 4]
        (clen,) = struct.unpack("<I", payload[i + 4 : i + 8])
        body = payload[i + 8 : i + 8 + clen]
        if cid == b"fmt " and clen >= 16 and len(body) >= 16:
            _, ch, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if ch == 0 or rate == 0:
                return None
            fmt = (ch, rate, bits)
        elif cid == b"data":
            data_size = clen
        i += 8 + clen + (clen & 1)  # chunks are word-aligned
        if fmt is not None and data_size is not None:
            break
    if fmt is None or data_size is None:
        return None
    ch, rate, bits = fmt
    bytes_per_sec = rate * ch * max(bits, 1) // 8
    if bytes_per_sec == 0:
        return None
    duration_ms = round(data_size * 1000 / bytes_per_sec)
    return ch, rate, bits, duration_ms


_MP3_BITRATES_V1L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112,
                      128, 160, 192, 224, 256, 320)
_MP3_BITRATES_V2L3 = (0, 8, 16, 24, 32, 40, 48, 56, 64,
                      80, 96, 112, 128, 144, 160)
_MP3_RATES = {3: (44100, 48000, 32000),   # MPEG1
              2: (22050, 24000, 16000),   # MPEG2
              0: (11025, 12000, 8000)}    # MPEG2.5


_MP3_SYNC_SCAN = 2048  # bounded forward scan after the ID3 tag


def _mp3_frame_at(payload: bytes, i: int):
    """Decode the frame header at offset i; None when not a valid
    MPEG Layer III header."""
    if i + 4 > len(payload) or payload[i] != 0xFF or (payload[i + 1] & 0xE0) != 0xE0:
        return None
    h1, h2, h3 = payload[i + 1], payload[i + 2], payload[i + 3]
    version = (h1 >> 3) & 0x3    # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
    layer = (h1 >> 1) & 0x3      # 1 == Layer III
    if version == 1 or layer != 1:
        return None
    br_idx = (h2 >> 4) & 0xF
    sr_idx = (h2 >> 2) & 0x3
    if br_idx in (0, 15) or sr_idx == 3:
        return None  # free/bad bitrate or reserved rate
    table = _MP3_BITRATES_V1L3 if version == 3 else _MP3_BITRATES_V2L3
    bitrate_kbps = table[br_idx]
    rate = _MP3_RATES[version][sr_idx]
    channels = 1 if ((h3 >> 6) & 0x3) == 3 else 2
    duration_ms = round((len(payload) - i) * 8 * 1000 / (bitrate_kbps * 1000))
    return channels, rate, None, duration_ms


def parse_mp3_header(payload: bytes):
    """MP3 (MPEG Layer III) metadata from the first audio frame header,
    stdlib-only: skips an ID3v2 tag (syncsafe size), then scans forward
    a bounded window (<= 2 KiB — real files pad junk/cover-art slop
    between the tag and the first frame) for a VALID frame header
    (sync word + version/layer/bitrate/rate sanity, so a stray 0xFF in
    the padding is skipped, not trusted), reads channel-mode/rate from
    the bitrate tables, and estimates duration from the audio byte
    count at the first frame's bitrate (exact for CBR, an estimate for
    VBR — stated in the schema's contract). Without an ID3 tag the
    frame must start at offset 0 — scanning arbitrary payloads for a
    sync word would classify random binary as MP3. Returns
    (n_channels, sample_rate_hz, None, duration_ms) — bits-per-sample
    is not a lossy-codec concept — or None for non-MP3 payloads."""
    n = len(payload)
    if payload[:3] == b"ID3" and n >= 10:
        size = 0
        for b in payload[6:10]:
            size = (size << 7) | (b & 0x7F)  # syncsafe
        i = 10 + size
        for j in range(i, min(i + _MP3_SYNC_SCAN, n - 3)):
            meta = _mp3_frame_at(payload, j)
            if meta is not None:
                return meta
        return None
    return _mp3_frame_at(payload, 0)


def _iter_boxes(payload: bytes, start: int, end: int):
    """Walk ISO-BMFF boxes in payload[start:end): yields (type, body
    start, box end). Handles 64-bit largesize (size==1) and to-end
    boxes (size==0); stops — never raises — on any malformed size, the
    shared never-raise contract of the format walks in this module."""
    i = start
    while i + 8 <= end:
        size = int.from_bytes(payload[i : i + 4], "big")
        btype = payload[i + 4 : i + 8]
        hdr = 8
        if size == 1:
            if i + 16 > end:
                return
            size = int.from_bytes(payload[i + 8 : i + 16], "big")
            hdr = 16
        elif size == 0:
            size = end - i  # last box extends to the end of the file
        if size < hdr or i + size > end:
            return  # malformed/truncated: stop the walk
        yield btype, i + hdr, i + size
        i += size


def parse_mp4_meta(payload: bytes) -> tuple[int | None, int | None, int | None] | None:
    """REAL (pure-stdlib) MP4/ISO-BMFF metadata: walk the top-level
    boxes to ``moov``, read presentation duration from ``mvhd``
    (timescale + duration, version 0/1 layouts) and track dimensions
    from the first ``trak``/``tkhd`` with nonzero width/height (video
    tracks; audio tracks carry 0x0 — 16.16 fixed-point per the spec).
    Returns (duration_ms, width, height) — any field None when its box
    is absent/garbled — or None when the payload is not ISO-BMFF (no
    ``ftyp`` at offset 4 or no parseable ``moov``). Exactly the RIFF-
    walk discipline of parse_wav_header, ISO 14496-12 edition.

    Reference role analog: S6's per-page media introspection
    (/root/reference/fusus/lakhnawi.py:766-860) — typed metadata read
    from the container's own headers, not inferred."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        return None
    duration_ms: int | None = None
    width: int | None = None
    height: int | None = None
    for btype, body, bend in _iter_boxes(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        for ctype, cbody, cend in _iter_boxes(payload, body, bend):
            if ctype == b"mvhd" and duration_ms is None:
                v = payload[cbody] if cbody < cend else None
                if v == 0 and cbody + 20 <= cend:
                    ts = int.from_bytes(payload[cbody + 12 : cbody + 16], "big")
                    dur = int.from_bytes(payload[cbody + 16 : cbody + 20], "big")
                elif v == 1 and cbody + 32 <= cend:
                    ts = int.from_bytes(payload[cbody + 20 : cbody + 24], "big")
                    dur = int.from_bytes(payload[cbody + 24 : cbody + 32], "big")
                else:
                    continue
                # duration == all-ones means "unknown" per the spec
                if ts > 0 and dur not in (0xFFFFFFFF, 0xFFFFFFFFFFFFFFFF):
                    duration_ms = round(dur * 1000 / ts)
            elif ctype == b"trak" and width is None:
                for ttype, tbody, tend in _iter_boxes(payload, cbody, cend):
                    if ttype != b"tkhd":
                        continue
                    v = payload[tbody] if tbody < tend else None
                    off = 76 if v == 0 else 88 if v == 1 else None
                    if off is None or tbody + off + 8 > tend:
                        continue
                    w = int.from_bytes(payload[tbody + off : tbody + off + 4], "big")
                    h = int.from_bytes(payload[tbody + off + 4 : tbody + off + 8], "big")
                    if w and h:  # 16.16 fixed; audio tracks are 0x0
                        width, height = w >> 16, h >> 16
        return duration_ms, width, height  # one moov per file
    return None


VIDEO_META_SCHEMA = (
    "url string, media_type string, n_bytes long, width int, height int, "
    "duration_ms long"
)


def video_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(url, payload binary) -> video metadata; the video sibling of
    ``audio_meta``. MP4/ISO-BMFF payloads get REAL duration (mvhd) and
    track dimensions (tkhd) from the box walk — no media lib needed;
    everything else yields nulls with the sniffed type, never an
    exception. Same fused mapInPandas shape as the extraction stage;
    verification is golden bytes per box path (byte-format walks are
    not SQL-expressible, the repo's non-SQL-oracle rule)."""

    def row(url, payload):
        meta = parse_mp4_meta(payload)
        dur, w, h = meta if meta else (None, None, None)
        return {
            "url": url,
            "media_type": sniff_media_type(payload),
            "n_bytes": len(payload),
            "width": w,
            "height": h,
            "duration_ms": dur,
        }

    return _map_payloads(df, payload_col, VIDEO_META_SCHEMA, row)


def parse_flac_header(payload: bytes):
    """FLAC metadata from the STREAMINFO block (always the first
    metadata block per the spec), stdlib-only: the packed 64-bit field
    carries sample rate (20 bits), channels-1 (3), bits-per-sample-1
    (5) and total samples (36) — duration is exact, not bitrate-
    derived. Returns the audio_meta tuple or None for non-FLAC."""
    if len(payload) < 26 or payload[:4] != b"fLaC":
        return None
    if (payload[4] & 0x7F) != 0:  # first block must be STREAMINFO
        return None
    blk_len = int.from_bytes(payload[5:8], "big")
    if blk_len < 34:
        return None
    u = int.from_bytes(payload[18:26], "big")
    rate = u >> 44
    channels = ((u >> 41) & 0x7) + 1
    bps = ((u >> 36) & 0x1F) + 1
    total = u & ((1 << 36) - 1)
    if rate == 0:
        return None
    duration_ms = round(total * 1000 / rate) if total else None
    return channels, rate, bps, duration_ms


def parse_ogg_header(payload: bytes):
    """OGG (Vorbis/Opus) metadata, stdlib-only: channels + rate from
    the id header in the first page's packet, duration ESTIMATED from
    the last page's granule position (PCM sample count; Opus granules
    are 48 kHz by spec — pre-skip ignored, stated estimate). Returns
    the audio_meta tuple (bits_per_sample None — lossy codecs) or None
    for non-OGG payloads."""
    n = len(payload)
    if n < 28 or payload[:4] != b"OggS" or payload[4] != 0:
        return None
    nsegs = payload[26]
    body = 27 + nsegs
    if body + 16 > n:
        return None
    channels = rate = gran_rate = None
    if payload[body : body + 7] == b"\x01vorbis" and body + 16 <= n:
        channels = payload[body + 11]
        rate = int.from_bytes(payload[body + 12 : body + 16], "little")
        gran_rate = rate
    elif payload[body : body + 8] == b"OpusHead" and body + 16 <= n:
        channels = payload[body + 9]
        rate = int.from_bytes(payload[body + 12 : body + 16], "little")
        gran_rate = 48000  # Opus granules are always 48 kHz
    if not channels or not rate:
        return None
    # last-page granule: scan back over a few OggS candidates (the
    # capture pattern can occur inside packet data — version byte 0 and
    # a sane granule filter those)
    duration_ms = None
    pos = n
    for _ in range(4):
        i = payload.rfind(b"OggS", 0, pos)
        if i < 0:
            break
        if i + 14 <= n and payload[i + 4] == 0:
            gran = int.from_bytes(payload[i + 6 : i + 14], "little")
            if gran != 0xFFFFFFFFFFFFFFFF and gran > 0:
                duration_ms = round(gran * 1000 / gran_rate)
                break
        pos = i
    return channels, rate, None, duration_ms


AUDIO_META_SCHEMA = (
    "url string, media_type string, n_bytes long, n_channels int, "
    "sample_rate_hz int, bits_per_sample int, duration_ms long"
)


def audio_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(url, payload binary) -> audio metadata; the audio sibling of
    ``media_features``. WAV (RIFF fmt/data chunks), MP3 (frame header,
    bitrate-derived duration — exact for CBR), FLAC (STREAMINFO packed
    field, exact duration) and OGG Vorbis/Opus (id-header channels/
    rate, last-page-granule duration estimate) all get REAL metadata
    from stdlib marker walks — no audio lib in this container;
    everything else yields nulls with the sniffed type, never an
    exception. Same fused mapInPandas physical shape as the extraction
    stage; verification is golden bytes + an independent struct
    reference in tests (byte-format walks are not SQL-expressible, the
    repo's non-SQL-oracle rule). Batch plumbing comes from the shared
    ``_map_payloads`` scaffold."""

    def row(url, payload):
        meta = (parse_wav_header(payload) or parse_mp3_header(payload)
                or parse_flac_header(payload) or parse_ogg_header(payload))
        return {
            "url": url,
            "media_type": sniff_media_type(payload),
            "n_bytes": len(payload),
            "n_channels": meta[0] if meta else None,
            "sample_rate_hz": meta[1] if meta else None,
            "bits_per_sample": meta[2] if meta else None,
            "duration_ms": meta[3] if meta else None,
        }

    return _map_payloads(df, payload_col, AUDIO_META_SCHEMA, row)


RESIZED_SCHEMA = (
    "url string, width int, height int, out_width int, out_height int, "
    "resized binary"
)


def resize_images(df: DataFrame, target: int = 64, payload_col: str = "payload",
                  use_stub: bool = True) -> DataFrame:
    """(url, payload) -> resized thumbnails, aspect-preserving.

    The geometry math (aspect-ratio fit to ``target`` px) is real, and
    PNG/JPEG payloads feed it their REAL header dimensions
    (parse_image_dims, same as media_features); the pixel resample is stubbed
    (deterministic bytes from md5 of payload + target) since no image
    lib ships in this container — production swaps ``_resample`` for
    PIL.Image.resize. One mapInPandas stage, same Arrow batch shape as
    the real thing.
    """
    pruned = df.select("url", F.col(payload_col).alias("payload"))

    def _resample(payload: bytes, w: int, h: int) -> bytes:
        if not use_stub:
            raise NotImplementedError("needs PIL/cv2: Image.resize((w, h))")
        import hashlib

        seed = hashlib.md5(payload + f":{w}x{h}".encode()).digest()
        return (seed * ((w * h) // len(seed) + 1))[: w * h]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            rows = {k: [] for k in
                    ("url", "width", "height", "out_width", "out_height", "resized")}
            for url, payload in zip(pdf["url"].tolist(), pdf["payload"].tolist()):
                payload = bytes(payload) if payload is not None else b""
                w, h, _ = decode_stub(payload)
                real_dims = parse_image_dims(payload)
                if real_dims is not None:
                    w, h = real_dims
                # integer half-up fit: exact in any engine (float round()
                # is banker's in python but half-away in SQL — a .5
                # boundary would silently diverge from the oracle)
                m = max(w, h)
                ow = max(1, (2 * w * target + m) // (2 * m))
                oh = max(1, (2 * h * target + m) // (2 * m))
                rows["url"].append(url)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["out_width"].append(ow)
                rows["out_height"].append(oh)
                rows["resized"].append(_resample(payload, ow, oh))
            yield pd.DataFrame(rows)

    return pruned.mapInPandas(run, schema=RESIZED_SCHEMA)


FRAMES_SCHEMA = "url string, frame_idx int, ts_ms long, frame binary"


def frame_sample(df: DataFrame, n_frames: int = 4, fps: float = 25.0,
                 payload_col: str = "payload", use_stub: bool = True) -> DataFrame:
    """(url, payload) -> uniformly sampled video frames (exploded rows).

    The sampling schedule is uniform over the REAL container duration
    when the payload is ISO-BMFF (parse_mp4_meta's mvhd walk), falling
    back to a synthetic size-derived duration for payloads with no
    parseable container; the one-row-per-frame output shape is real in
    both cases. Frame decode is stubbed with deterministic bytes —
    production swaps in an ffmpeg/cv2.VideoCapture seek+read. Row
    explosion happens INSIDE the Arrow batch (no per-row Python at the
    Spark level).
    """
    pruned = df.select("url", F.col(payload_col).alias("payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        import hashlib

        for pdf in batches:
            rows = {k: [] for k in ("url", "frame_idx", "ts_ms", "frame")}
            for url, payload in zip(pdf["url"].tolist(), pdf["payload"].tolist()):
                payload = bytes(payload) if payload is not None else b""
                meta = parse_mp4_meta(payload)
                if meta is not None and meta[0]:
                    dur_ms = meta[0]  # the container's own duration
                else:
                    # synthetic fallback: 1 "frame" per 64 bytes at fps
                    total_frames = max(1, len(payload) // 64)
                    dur_ms = int(total_frames / fps * 1000)
                for j in range(n_frames):
                    ts = (dur_ms * j) // max(n_frames - 1, 1) if n_frames > 1 else 0
                    if not use_stub:
                        raise NotImplementedError(
                            "needs ffmpeg/cv2: VideoCapture.set(POS_MSEC, ts)"
                        )
                    frame = hashlib.md5(payload + f":frame:{j}".encode()).digest()
                    rows["url"].append(url)
                    rows["frame_idx"].append(j)
                    rows["ts_ms"].append(ts)
                    rows["frame"].append(frame)
            yield pd.DataFrame(rows)

    return pruned.mapInPandas(run, schema=FRAMES_SCHEMA)


# ---------------------------------------------------------------------------
# Image-text pair mining (the LAION-style multimodal supply): every
# <img> on the page with its best caption — figcaption when the img
# sits inside a <figure>, else alt/title text — plus the srcset
# best-resolution candidate. Pure JVM regexp harvest in the house
# style (RE2-safe, DuckDB-mirrored), zero shuffle, zero Python.

def _tempered_body(word: str) -> str:
    """Region-body chars that can never START another ``<word`` open
    tag: any non-'<', or '<' followed by a spelled-out negated prefix
    of the word (RE2-safe — no lookaheads). Without this, an UNCLOSED
    element followed by a closed one would match as ONE region from
    the first open tag to the other element's close tag, attributing
    the second element's caption/children to the first (a wrong
    training caption — review finding). With it, the broken open tag
    simply fails the closed-form branch and degrades to a bare tag,
    while the intact element matches on its own. Cost: sibling tags
    sharing a strict prefix (none among figure/video/audio) would be
    over-blocked; ``figcaption`` diverges from ``figure`` at 'c' vs
    'u' and stays allowed."""
    from fusus_spark.operators.pagemeta import _ci

    alts = []
    for i, ch in enumerate(word):
        alts.append(_ci(word[:i]) + "[^" + ch + ch.upper() + "]")
    return r"(?:[^<]|<(?:" + "|".join(alts) + r"))*?"


def _img_patterns():
    """Compiled-once pattern set (module import time); a function so
    the pagemeta/robots imports stay local (no cycle at module load)."""
    from fusus_spark.operators.pagemeta import _ci
    from fusus_spark.operators.robots import _FILLER

    img_tag = "<" + _ci("img") + r"[\s/]" + _FILLER
    fig = (
        "<" + _ci("figure") + r"(?:\s" + _FILLER + r")?>"
        + _tempered_body("figure") + r"<*</" + _ci("figure")
        + r"[ \t\r\n\f]*>"
    )
    figcap = (
        "<" + _ci("figcaption") + r"(?:\s" + _FILLER + r")?>"
        + r"((?s:.*?))</" + _ci("figcaption")
    )
    # leftmost-first alternation: at a '<figure' the whole region is
    # consumed atomically, so its inner imgs are never re-matched as
    # bare tags; an UNCLOSED figure fails the first branch and its
    # imgs degrade to bare (alt-text-only) rows
    return img_tag, fig + "|" + img_tag, figcap


_IMG_TAG_RE, _FIG_OR_IMG_RE, _FIGCAP_RE = _img_patterns()

# srcset candidate with a width descriptor: "url 640w". The url token
# stops at comma/whitespace (the srcset grammar's separators).
_SRCSET_CAND = r"([^, \t\r\n\f]+)[ \t\r\n\f]+(\d{1,9})[wW]"


def _attr_val_pat(attr: str) -> str:
    """attr="..." value in the 3-way quoting form, captures in groups
    1-3 (the _first_group contract); anchored by the caller. ONE
    quoting grammar repo-wide: delegates to pagemeta._attr3 so the
    Spark and DuckDB pattern pairs can never drift apart."""
    from fusus_spark.operators.pagemeta import _attr3

    return _attr3(attr)


def image_text_pairs(
    docs: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(url, region_idx, img_idx, src, srcset_best_url, srcset_best_w,
    width, height, alt, title, caption, text, in_figure, is_data_uri)
    — one row per ``<img>`` tag on the page, the supply side of an
    image-text-pair corpus (filter ``text IS NOT NULL`` for trainable
    pairs; keep the rest as the image inventory).

    Semantics: ONE whole-document scan matches ``<figure>...
    </figure>`` regions and bare ``<img>`` tags in a single
    leftmost-first alternation, so a figure's imgs are harvested from
    the figure region (and inherit its first ``<figcaption>`` text,
    tag-stripped + entity-lite folded) while standalone imgs carry
    only their own alt/title. ``text`` is the training caption:
    figcaption beats alt beats title (captions are human-written
    descriptions; alt is often filename junk — the consumer can
    re-rank). ``srcset_best_*`` is the candidate with the LARGEST
    width descriptor (ties break on the url bytes, deterministic);
    ``width``/``height`` are the declared attributes (digit-gated
    cast, junk -> null). ``src`` keeps its original bytes — resolve
    like any harvested href (webgraph.resolve_links ->
    functions.url.canonical_url) before fetching; ``is_data_uri``
    flags inline payloads (decode them with media_features instead of
    fetching).

    Plan: one projection + two Generates (region explode, per-region
    img explode) — map-side only, pipelines into the html scan; at
    10^12 rows the shuffle cost is zero and the join against a fetch
    frontier happens on the consumer's key. DuckDB mirrors every step
    (tests/test_multimodal_pairs.py hash oracle); plan_audit pins
    Generate + Exchange==1 + no python stage.

    Reference role analog: the per-page illustration inventory of S6
    (lakhnawi.py's per-page image enumeration) — media references
    harvested as a typed side table next to the text.
    """
    from fusus_spark.operators.pagemeta import _IN_REGION, _clean_text
    from fusus_spark.operators.robots import _first_group

    orig = F.col(html_col).cast("string")
    regions = docs.select(
        F.col(url_col).alias("url"),
        F.posexplode(
            F.regexp_extract_all(orig, F.lit(_FIG_OR_IMG_RE), F.lit(0))
        ).alias("region_idx", "region"),
    )
    reg = F.col("region")
    in_figure = F.lower(F.substring(reg, 1, 7)) == "<figure"
    cap_raw = F.regexp_extract(reg, _FIGCAP_RE, 1)
    caption = F.when(
        in_figure,
        _clean_text(F.regexp_replace(cap_raw, r"<[^>]*>", " ")),
    )
    imgs = regions.select(
        "url",
        "region_idx",
        in_figure.alias("in_figure"),
        caption.alias("caption"),
        F.posexplode(
            F.regexp_extract_all(reg, F.lit(_IMG_TAG_RE), F.lit(0))
        ).alias("img_idx", "tag"),
    )
    tag = F.col("tag")

    def attr(name: str) -> F.Column:
        return _first_group(tag, _IN_REGION + _attr_val_pat(name))

    def dim(name: str):
        # digit-gated int cast: ANSI-safe in Spark, identical in DuckDB
        return F.nullif(
            F.regexp_extract(attr(name), r"^(\d{1,9})", 1), F.lit("")
        ).cast("int")

    cands = F.regexp_extract_all(attr("srcset"), F.lit(_SRCSET_CAND), F.lit(0))
    best = F.array_max(
        F.transform(
            cands,
            lambda t: F.struct(
                F.regexp_extract(t, _SRCSET_CAND, 2).cast("int").alias("w"),
                F.regexp_extract(t, _SRCSET_CAND, 1).alias("u"),
            ),
        )
    )
    src = attr("src")
    alt = _clean_text(attr("alt"))
    title = _clean_text(attr("title"))
    return (
        imgs.select(
            "url",
            F.col("region_idx").cast("int").alias("region_idx"),
            F.col("img_idx").cast("int").alias("img_idx"),
            src.alias("src"),
            best["u"].alias("srcset_best_url"),
            best["w"].alias("srcset_best_w"),
            dim("width").alias("width"),
            dim("height").alias("height"),
            alt.alias("alt"),
            title.alias("title"),
            F.col("caption"),
            F.coalesce(F.col("caption"), alt, title).alias("text"),
            "in_figure",
            (F.lower(F.substring(src, 1, 5)) == "data:").alias("is_data_uri"),
        )
        .where(F.col("src").isNotNull())
    )


# ---------------------------------------------------------------------------
# Video/audio reference mining: the media-element complement of
# image_text_pairs. <video>/<audio> regions with their nested
# <source> (alternate encodings) and <track> (subtitle/caption files
# — the text half of a video-text training pair) children.

def _media_patterns():
    from fusus_spark.operators.pagemeta import _ci
    from fusus_spark.operators.robots import _FILLER

    def closed(name: str) -> str:
        return (
            "<" + _ci(name) + r"(?:\s" + _FILLER + r")?>"
            + _tempered_body(name) + r"<*</" + _ci(name)
            + r"[ \t\r\n\f]*>"
        )

    def bare(name: str) -> str:
        return "<" + _ci(name) + r"[\s/]" + _FILLER

    # closed forms first (leftmost-first alternation consumes the
    # whole element with its children); an UNCLOSED element degrades
    # to its open tag — self src/poster survive, children are lost
    region = "|".join(
        [closed("video"), closed("audio"), bare("video"), bare("audio")]
    )
    return region, bare("source"), bare("track")


_MEDIA_REGION_RE, _SOURCE_TAG_RE, _TRACK_TAG_RE = _media_patterns()


def media_refs(
    docs: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(url, region_idx, element, ref_idx, ref_kind, src, mime,
    track_kind, srclang, label, width, height, is_data_uri) — one row
    per media REFERENCE on the page: the ``<video>``/``<audio>``
    element's own ``src``, a video's ``poster`` image, each nested
    ``<source>`` (with its declared MIME type), and each nested
    ``<track>`` (kind/srclang/label — subtitle and caption files, the
    text supply for video-text pairs).

    One whole-document scan (closed-element regions first in the
    alternation, so children are harvested from inside their element;
    unclosed elements degrade to the open tag), then per region ONE
    concat of four ref arrays (self src, poster, sources, tracks)
    filtered to non-null srcs and exploded — structs keep identical
    shape so the concat stays a codegen'd array op. ``src`` keeps
    original bytes (resolve like any href); ``width``/``height`` are
    the element's declared attributes, carried onto every ref row of
    that element.

    Map-side only (projection + two Generates), zero Python, zero
    shuffle. DuckDB mirrors every step (tests/test_multimodal_pairs.py
    hash oracle); plan_audit pins Generate + Exchange==1 + no python
    stage.

    Reference role analog: the same per-page media inventory role as
    image_text_pairs (S6's illustration enumeration), extended to
    timed media.
    """
    from fusus_spark.operators.pagemeta import _IN_REGION, _clean_text
    from fusus_spark.operators.robots import _first_group

    orig = F.col(html_col).cast("string")
    regions = docs.select(
        F.col(url_col).alias("url"),
        F.posexplode(
            F.regexp_extract_all(orig, F.lit(_MEDIA_REGION_RE), F.lit(0))
        ).alias("region_idx", "region"),
    )
    reg = F.col("region")

    def attr_of(col, name: str):
        return _first_group(col, _IN_REGION + _attr_val_pat(name))

    def dim(name: str):
        return F.nullif(
            F.regexp_extract(attr_of(reg, name), r"^(\d{1,9})", 1), F.lit("")
        ).cast("int")

    ns = F.lit(None).cast("string")

    def ref(kind: str, src, mime=None, tkind=None, lang=None, label=None):
        return F.struct(
            F.lit(kind).alias("ref_kind"),
            src.alias("src"),
            (mime if mime is not None else ns).alias("mime"),
            (tkind if tkind is not None else ns).alias("track_kind"),
            (lang if lang is not None else ns).alias("srclang"),
            (label if label is not None else ns).alias("label"),
        )

    sources = F.regexp_extract_all(reg, F.lit(_SOURCE_TAG_RE), F.lit(0))
    tracks = F.regexp_extract_all(reg, F.lit(_TRACK_TAG_RE), F.lit(0))
    refs = F.filter(
        F.concat(
            F.array(ref("src", attr_of(reg, "src"))),
            F.array(ref("poster", attr_of(reg, "poster"))),
            F.transform(
                sources, lambda s: ref("source", attr_of(s, "src"),
                                       mime=attr_of(s, "type"))
            ),
            F.transform(
                tracks,
                lambda t: ref(
                    "track", attr_of(t, "src"), tkind=attr_of(t, "kind"),
                    lang=attr_of(t, "srclang"),
                    label=_clean_text(attr_of(t, "label")),
                ),
            ),
        ),
        lambda x: x["src"].isNotNull(),
    )
    element = F.lower(F.substring(reg, 2, 5))
    src = F.col("ref")["src"]
    return regions.select(
        "url",
        F.col("region_idx").cast("int").alias("region_idx"),
        element.alias("element"),
        dim("width").alias("width"),
        dim("height").alias("height"),
        F.posexplode(refs).alias("ref_idx", "ref"),
    ).select(
        "url",
        "region_idx",
        "element",
        F.col("ref_idx").cast("int").alias("ref_idx"),
        F.col("ref")["ref_kind"].alias("ref_kind"),
        src.alias("src"),
        F.col("ref")["mime"].alias("mime"),
        F.col("ref")["track_kind"].alias("track_kind"),
        F.col("ref")["srclang"].alias("srclang"),
        F.col("ref")["label"].alias("label"),
        "width",
        "height",
        (F.lower(F.substring(src, 1, 5)) == "data:").alias("is_data_uri"),
    )

"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns + typed metadata, processed via Arrow-batched ``mapInPandas``.

Decoding depth is tiered by what the environment allows: image HEADER
metadata (PNG/GIF/BMP/JPEG width/height), WAV audio, and — for REAL, pixel
by pixel — PNG, 24-bit BMP, GIF (LZW), and BASELINE JPEG are decoded with
the stdlib alone (``_decode_image_headers``, ``_decode_audio_real``,
``decode_png_pixels``/``decode_bmp_pixels``/``decode_gif_pixels``, and
``operators/jpeg.py:decode_jpeg_pixels`` — Huffman + dequant + IDCT +
chroma upsample + YCbCr, baseline SOF0 AND progressive SOF2).
Arithmetic-coded JPEG, video codecs beyond MJPEG,
and compressed-audio decoding need PIL/ffmpeg/torchaudio, which are NOT
dependencies, so those route to ``DECODERS``' deterministic fakes
(documented as such); a real decoder swaps in through ``DECODERS``.
Everything Spark-side is real and tested: schemas, binary handling, batch
iteration shape, partition sizing.

Scale notes (100 TB of media):
- blobs ride in parquet binary columns (or out-of-line object-store URIs
  with only the URI in the column — same operator shape);
- ``mapInPandas`` streams Arrow record batches, so executor memory is
  bounded by batch size, not partition size — set
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` to cap peak blob bytes;
- feature extraction is embarrassingly parallel: no shuffle anywhere.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Module-level, not deferred: pixel_stats runs inside executor closures
# shipped by value — an inline import there would ModuleNotFoundError on
# workers without the package on sys.path (see _ship_by_value).
from modal_vector_db_spark.operators.jpeg import decode_jpeg_pixels  # noqa: E402

#: Output schema of feature extraction — id + typed media metadata.
#: Visual media fill (width, height, n_frames); audio fills (sample_rate,
#: duration_ms); the complement stays NULL — one stable schema for a mixed
#: media table (the parquet-friendly alternative to per-type tables).
MEDIA_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("checksum", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)


def _ship_by_value() -> None:
    """Register this module (+ its jpeg/avi codec deps) for by-value
    serialization — ONE call for every media operator; see
    :mod:`modal_vector_db_spark.shipping`."""
    import sys

    from modal_vector_db_spark.operators import avi as _avi_mod
    from modal_vector_db_spark.operators import jpeg as _jpeg_mod
    from modal_vector_db_spark.shipping import ship_by_value

    ship_by_value(sys.modules[__name__], _jpeg_mod, _avi_mod)


def _decode_image_headers(blob: bytes) -> dict[str, Any]:
    """REAL image metadata decode for the common container formats, stdlib
    only — parses (width, height) straight from the header bytes:

    - PNG:  8-byte signature, IHDR width/height as big-endian uint32 at
      offsets 16/20;
    - GIF:  ``GIF87a``/``GIF89a``, logical-screen width/height as
      little-endian uint16 at offsets 6/8;
    - BMP:  ``BM``, BITMAPINFOHEADER width/height as little-endian int32 at
      offsets 18/22 (height may be negative for top-down rows);
    - JPEG: marker walk to the first SOF segment, height/width as
      big-endian uint16 at segment offsets 3/5.

    Pixel DATA is decodable for REAL for PNG/BMP/GIF
    (:func:`decode_png_pixels` / :func:`decode_bmp_pixels` /
    :func:`decode_gif_pixels`, stdlib only — GIF frame counts real via the
    block walk here too, and baseline/progressive JPEG via
    ``operators/jpeg.py``) — this parses the
    metadata a layout/filter pass reads, with no dependency.  Unrecognized magic falls back to the
    deterministic stub (:func:`_decode_image_fake`), so non-image bytes
    keep flowing."""
    import struct

    try:
        if blob[:8] == b"\x89PNG\r\n\x1a\n" and len(blob) >= 24:
            w, h = struct.unpack(">II", blob[16:24])
            return {"width": int(w), "height": int(h), "n_frames": 1}
        if blob[:6] in (b"GIF87a", b"GIF89a") and len(blob) >= 10:
            w, h = struct.unpack("<HH", blob[6:10])
            # frame count from the same cheap block walk the pixel decoder
            # uses (no LZW) — keeps the two operators consistent; blobs
            # whose block stream does not parse report 1
            try:
                nf = _gif_frame_count(blob)
            except Exception:
                nf = 1
            return {"width": int(w), "height": int(h), "n_frames": nf}
        if blob[:2] == b"BM" and len(blob) >= 26:
            w, h = struct.unpack("<ii", blob[18:26])
            # height's sign is row order (legal); a non-positive WIDTH is
            # corrupt — fall to the stub like decode_bmp_pixels rejects it
            if w > 0:
                return {"width": int(w), "height": abs(int(h)), "n_frames": 1}
        if blob[:2] == b"\xff\xd8":
            i = 2
            while i + 1 < len(blob) and blob[i] == 0xFF:
                # 0xFF fill bytes may pad between segments (JPEG spec §B.1.1.2)
                # — consume them without treating the run as a marker, or the
                # walk misreads the next real marker's length field.
                while i + 1 < len(blob) and blob[i + 1] == 0xFF:
                    i += 1
                marker = blob[i + 1]
                # Standalone markers (TEM, RSTn, SOI, EOI) carry NO length
                # field; consuming two length bytes here would misalign every
                # subsequent segment and real JPEGs would silently fall
                # through to the fake decoder.
                if marker == 0x01 or 0xD0 <= marker <= 0xD9:
                    i += 2
                    continue
                if i + 4 > len(blob):
                    break
                seglen = struct.unpack(">H", blob[i + 2 : i + 4])[0]
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    if i + 9 > len(blob):
                        break
                    h, w = struct.unpack(">HH", blob[i + 5 : i + 9])
                    return {"width": int(w), "height": int(h), "n_frames": 1}
                i += 2 + seglen
    except (struct.error, IndexError):  # truncated header → stub fallback
        pass
    return _decode_image_fake(blob)


def _decode_image_fake(blob: bytes) -> dict[str, Any]:
    """Deterministic STUB decoder: derives fake dimensions from the blob
    bytes (stands in for PIL.Image.open(blob).size)."""
    import hashlib

    h = hashlib.md5(blob).digest()
    return {
        "width": 64 + h[0] % 192,
        "height": 64 + h[1] % 192,
        "n_frames": 1,
    }


def _decode_video_fake(blob: bytes) -> dict[str, Any]:
    import hashlib

    h = hashlib.md5(blob).digest()
    return {"width": 320, "height": 240, "n_frames": 1 + h[2] % 120}


def _decode_video_headers(blob: bytes) -> dict[str, Any]:
    """REAL video metadata decode for the common containers, stdlib only —
    header/box parsing, no frame decode:

    - MP4/MOV (ISO BMFF): top-level box walk to ``moov``, then ``mvhd``
      (timescale + duration → duration_ms) and the first ``trak``→``tkhd``
      (16.16 fixed-point width/height at the box tail);
    - AVI (RIFF): ``avih`` main header — dwMicroSecPerFrame, dwTotalFrames,
      dwWidth, dwHeight (all little-endian uint32).

    Frame COUNT for MP4 still needs the sample tables (stbl) — left to the
    ffmpeg-backed decoder; AVI reports dwTotalFrames directly.  Unrecognized
    magic falls back to the deterministic stub."""
    import struct

    def mp4_boxes(buf: bytes, start: int, end: int):
        i = start
        while i + 8 <= end:
            size, btype = struct.unpack(">I4s", buf[i : i + 8])
            if size < 8:  # size 0/1 (to-eof / 64-bit) — not in headers we read
                return
            yield btype, i + 8, min(i + size, end)
            i += size

    try:
        if len(blob) >= 12 and blob[4:8] == b"ftyp":
            out: dict[str, Any] = {"n_frames": None}
            for btype, s, e in mp4_boxes(blob, 0, len(blob)):
                if btype != b"moov":
                    continue
                for ityp, is_, ie in mp4_boxes(blob, s, e):
                    if ityp == b"mvhd" and ie - is_ >= 20:
                        ver = blob[is_]
                        if ver == 1:
                            ts, dur = struct.unpack(">IQ", blob[is_ + 20 : is_ + 32])
                        else:
                            ts, dur = struct.unpack(">II", blob[is_ + 12 : is_ + 20])
                        out["duration_ms"] = int(dur * 1000 // max(ts, 1))
                    elif ityp == b"trak" and "width" not in out:
                        for ttyp, ts_, te in mp4_boxes(blob, is_, ie):
                            if ttyp == b"tkhd" and te - ts_ >= 84:
                                w, h = struct.unpack(">II", blob[te - 8 : te])
                                out["width"], out["height"] = w >> 16, h >> 16
                if "width" in out or "duration_ms" in out:
                    return out
        if blob[:4] == b"RIFF" and blob[8:12] == b"AVI " and len(blob) >= 72:
            i = blob.find(b"avih")
            if i != -1 and len(blob) >= i + 48:
                usec, _, _, _, frames, _, _, _, w, h = struct.unpack(
                    "<10I", blob[i + 8 : i + 48]
                )
                return {
                    "width": int(w),
                    "height": int(h),
                    "n_frames": int(frames),
                    "duration_ms": int(usec * frames // 1000),
                }
    except (struct.error, IndexError):
        pass
    return _decode_video_fake(blob)


def _decode_audio_real(blob: bytes) -> dict[str, Any]:
    """Real audio decode for WAV via the stdlib ``wave`` module — unlike the
    image/video decoders this needs NO external dependency, so the real
    path runs (and is tested) even in this environment.  Non-WAV codecs
    (mp3/flac/…) would route through ffmpeg/torchaudio behind the same
    contract."""
    import io
    import wave

    with wave.open(io.BytesIO(blob), "rb") as w:
        rate = w.getframerate()
        n = w.getnframes()
        return {
            "sample_rate": int(rate),
            "duration_ms": int(n * 1000 // max(rate, 1)),
        }


def _decode_audio_headers(blob: bytes) -> dict[str, Any]:
    """Default audio path: sniff RIFF/WAVE magic and decode for REAL via the
    stdlib ``wave`` module (:func:`_decode_audio_real`); anything else —
    non-WAV codecs, truncated/garbage bytes — falls through to the
    deterministic fake, exactly like the image header decoder does for
    unknown magic.  So real WAV bytes in a user's table yield real
    sample_rate/duration with no configuration."""
    import wave

    if blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
        try:
            return _decode_audio_real(blob)
        except (wave.Error, EOFError, ValueError):  # malformed header
            pass
    return _decode_audio_fake(blob)


def _decode_audio_fake(blob: bytes) -> dict[str, Any]:
    """Deterministic STUB audio decoder (stands in for wave/ffmpeg probing
    when blobs aren't real audio): md5-derived sample rate + duration."""
    import hashlib

    h = hashlib.md5(blob).digest()
    return {
        "sample_rate": (16000, 22050, 44100)[h[3] % 3],
        "duration_ms": 500 + (h[4] * 256 + h[5]) % 60000,
    }


DECODERS: dict[str, Callable[[bytes], dict[str, Any]]] = {
    # Header formats (PNG/GIF/BMP/JPEG) parse REAL dimensions stdlib-side;
    # anything else falls through to the deterministic fake.
    "image": _decode_image_headers,
    "video": _decode_video_headers,
    "audio": _decode_audio_headers,  # real stdlib WAV parse, fake fallback
}


def extract_media_features(df: DataFrame) -> DataFrame:
    """Decode + feature-extract media blobs via ``mapInPandas``.

    Input: (doc_id, media_type, blob: binary).  Output:
    :data:`MEDIA_FEATURES_SCHEMA`.  One Arrow batch in, one out — constant
    memory per task regardless of partition row count.
    """

    # The mapInPandas closure references this module's globals (DECODERS,
    # the fake decoders); register the module for by-value pickling so
    # executors do NOT need modal_vector_db_spark importable on their
    # sys.path (local workers under a plain SparkSession, cluster executors
    # without the package shipped) — same pattern as embedders.embed_udf.
    _ship_by_value()

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, mtype, blob, cksum in zip(
                pdf["doc_id"], pdf["media_type"], pdf["blob"], pdf["_checksum"]
            ):
                # SQL-NULL blob: all-None feature row (bytes(None) would
                # raise and fail the task — the corrupt-media convention
                # every sibling operator follows)
                if blob is None:
                    rows.append(
                        {"doc_id": int(doc_id), "media_type": mtype,
                         "n_bytes": None, "checksum": cksum, "width": None,
                         "height": None, "n_frames": None,
                         "sample_rate": None, "duration_ms": None}
                    )
                    continue
                blob = bytes(blob)
                meta = DECODERS.get(mtype, _decode_image_fake)(blob)
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "media_type": mtype,
                        "n_bytes": len(blob),
                        "checksum": cksum,
                        "width": meta.get("width"),
                        "height": meta.get("height"),
                        "n_frames": meta.get("n_frames"),
                        "sample_rate": meta.get("sample_rate"),
                        "duration_ms": meta.get("duration_ms"),
                    }
                )
            out = pd.DataFrame(rows, columns=[f.name for f in MEDIA_FEATURES_SCHEMA.fields])
            # Pin nullable dtypes: mixed None/int columns otherwise surface
            # as float64/object and trip the Arrow→Integer conversion.
            yield out.astype(
                {
                    "n_bytes": "Int64",
                    "width": "Int32",
                    "height": "Int32",
                    "n_frames": "Int32",
                    "sample_rate": "Int32",
                    "duration_ms": "Int64",
                }
            )

    # Checksum JVM-side (F.sha2 inside codegen, passed THROUGH the Arrow
    # batch) — the Python loop touches bytes only for what genuinely needs
    # Python, the stdlib header decode.
    pre = df.withColumn("_checksum", F.sha2(F.col("blob"), 256))
    return pre.mapInPandas(_extract, MEDIA_FEATURES_SCHEMA)


def frame_sample_stub(df: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame-sampling plumbing for video blobs: emits (doc_id, frame_idx)
    rows from the (fake-)decoded frame count — the explode shape of the
    real operator."""
    feats = extract_media_features(df)
    idx = F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
    # n_frames NULL (undecodable container) or 0 must emit NO rows — the
    # old greatest(n-1, 0) clamp minted a phantom frame 0 for both
    return feats.filter(F.col("n_frames") >= 1).select(
        "doc_id", F.explode(idx).alias("frame_idx")
    )


# ---------------------------------------------------------------------------
# REAL pixel decode, stdlib only (PNG + BMP here; GIF below; baseline JPEG
# in operators/jpeg.py) — closes the "pixel data needs PIL" gap for the
# containers whose encodings the stdlib can honestly handle: PNG is
# zlib-inflated filtered scanlines (RFC 2083 — pure struct+zlib+arithmetic),
# BMP 24-bit is raw padded BGR rows, GIF is LZW, JPEG is Huffman+IDCT.
# Arithmetic-coded JPEG raises a loud ValueError.
# Per-byte unfiltering is Python —
# fine at Arrow-batch granularity for fixtures and tests; a production
# deployment swaps a turbo decoder into the same batch boundary.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


#: the PNG filter types :func:`encode_png` cycles through, row by row
_PNG_FILTER_CYCLE = (0, 1, 2, 3, 4)


def encode_png(width: int, height: int, pixels: bytes, channels: int = 3) -> bytes:
    """PNG writer (struct + zlib + CRC32): 8-bit gray/RGB/RGBA,
    non-interlaced.  Rows are FORWARD-FILTERED cycling through
    ``_PNG_FILTER_CYCLE`` (all five types), so any decoder reading
    the output must genuinely invert Sub/Up/Average/Paeth — the test and
    fixture generator for :func:`decode_png_pixels`."""
    import struct
    import zlib

    ct = {1: 0, 3: 2, 4: 6}[channels]
    stride = width * channels
    assert len(pixels) == stride * height, "pixels must be row-major w*h*ch"

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    filter_cycle = _PNG_FILTER_CYCLE
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        ft = filter_cycle[y % len(filter_cycle)]
        raw.append(ft)
        for i in range(stride):
            a = row[i - channels] if i >= channels else 0
            b = prev[i]
            c = prev[i - channels] if i >= channels else 0
            if ft == 0:
                v = row[i]
            elif ft == 1:
                v = row[i] - a
            elif ft == 2:
                v = row[i] - b
            elif ft == 3:
                v = row[i] - ((a + b) >> 1)
            else:
                v = row[i] - _paeth(a, b, c)
            raw.append(v & 0xFF)
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, ct, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def decode_png_pixels(blob: bytes) -> tuple[int, int, int, bytes]:
    """REAL PNG pixel decode, stdlib only: walks the chunk stream,
    zlib-inflates the concatenated IDAT data, and inverts the per-row
    filters (None/Sub/Up/Average/Paeth, RFC 2083 §6).  Supports the
    non-interlaced 8-bit gray/RGB/RGBA variants (color types 0/2/6);
    anything else raises ``ValueError`` — callers fall back to
    header-only decode.  Returns (width, height, channels, row-major
    pixel bytes)."""
    import struct
    import zlib

    if blob[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, idat = 8, bytearray()
    w = h = ct = None
    while pos + 8 <= len(blob):
        (ln,), typ = struct.unpack(">I", blob[pos : pos + 4]), blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + ln]
        if typ == b"IHDR":
            w, h, bd, ct, comp, filt, inter = struct.unpack(">IIBBBBB", data)
            if bd != 8 or inter or comp or filt or ct not in (0, 2, 6):
                raise ValueError(
                    f"unsupported PNG variant (bitdepth={bd} colortype={ct} "
                    f"interlace={inter})"
                )
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    ch = {0: 1, 2: 3, 6: 4}[ct]
    stride = w * ch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (stride + 1) * h:
        raise ValueError("PNG scanline size mismatch")
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _ in range(h):
        ft = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ft == 1:
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif ft == 2:
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                c = prev[i - ch] if i >= ch else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad PNG filter type {ft}")
        out += line
        prev = line
    return int(w), int(h), ch, bytes(out)


def decode_bmp_pixels(blob: bytes) -> tuple[int, int, int, bytes]:
    """REAL BMP pixel decode, stdlib only: uncompressed 24-bit
    BITMAPINFOHEADER — rows are 4-byte padded BGR, bottom-up when height
    is positive.  Returns (width, height, 3, row-major RGB bytes)."""
    import struct

    if blob[:2] != b"BM" or len(blob) < 54:
        raise ValueError("not a BMP")
    (offset,) = struct.unpack("<I", blob[10:14])
    w, h = struct.unpack("<ii", blob[18:26])
    (bpp,) = struct.unpack("<H", blob[28:30])
    (comp,) = struct.unpack("<I", blob[30:34])
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp} compression={comp})")
    if w <= 0 or h == 0:
        # width is SIGNED in the header: a negative value would otherwise
        # sail through the truncation check (len(row) < w*3 is never true
        # for negative w) and return nonsense instead of raising
        raise ValueError(f"bad BMP dimensions ({w}x{h})")
    rowsize = (w * 3 + 3) // 4 * 4
    flipped = h > 0
    h = abs(h)
    out = bytearray()
    for y in range(h):
        src_y = h - 1 - y if flipped else y
        row = blob[offset + src_y * rowsize : offset + src_y * rowsize + w * 3]
        if len(row) < w * 3:
            raise ValueError("truncated BMP pixel data")
        for x in range(w):  # BGR → RGB
            out += row[x * 3 + 2 : x * 3 + 3] + row[x * 3 + 1 : x * 3 + 2] + row[x * 3 : x * 3 + 1]
    return int(w), int(h), 3, bytes(out)


def decode_image_pixels(blob: bytes) -> tuple[int, int, int, bytes, int]:
    """The ONE image-pixel dispatch every decoder consumer uses: magic →
    real stdlib decode, returns (width, height, channels, row-major
    pixels, n_frames — real for GIF, 1 otherwise).  Raises ``ValueError``
    on unknown containers and whatever named-variant ValueError the
    per-format decoder raises (arithmetic-coded JPEG, exotic PNG bit depths,
    ...).  NOTE: the JPEG decoder is imported at module level, never
    inline — this runs inside executor closures where the package is not
    on sys.path (the by-value shipping rule)."""
    if blob is None:
        raise ValueError("NULL image blob")
    if blob[:8] == _PNG_SIG:
        w, h, ch, px = decode_png_pixels(blob)
        return w, h, ch, px, 1
    if blob[:2] == b"BM":
        w, h, ch, px = decode_bmp_pixels(blob)
        return w, h, ch, px, 1
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif_pixels(blob)
    if blob[:2] == b"\xff\xd8":
        w, h, ch, px = decode_jpeg_pixels(blob)
        return w, h, ch, px, 1
    raise ValueError("unrecognized image container")


def dhash64(blob: bytes) -> int:
    """Perceptual difference hash (dHash, the standard 9×8 variant):
    decode → channel-SUM grayscale (monotone to the mean, so comparisons
    are integer-exact with no division) → 9×8 box-mean grid → one bit per
    horizontally adjacent cell pair (bit ``gy*8+gx`` set iff the RIGHT
    cell is brighter), packed into a SIGNED 64-bit value (bit 63 wraps
    negative — the cross-engine BIGINT convention, mirrored closed-form
    by the ``image`` arm's DuckDB oracle).  Box comparisons cross-multiply
    sums×counts, so uneven box sizes stay exact.  Near-identical images
    differ in a few bits — feed :func:`~modal_vector_db_spark.operators.
    dedup.signature_hamming_pairs` for banded near-dup pairs."""
    w, h, ch, px, _ = decode_image_pixels(blob)
    return dhash64_from_pixels(w, h, ch, px)


def dhash64_from_pixels(w: int, h: int, ch: int, px: bytes) -> int:
    """:func:`dhash64` over ALREADY-DECODED row-major pixels — the shared
    core for image blobs (dhash64) and sampled video frames
    (``operators/avi.py:video_dhash64``)."""
    if w < 9 or h < 8:
        raise ValueError(f"image too small for dhash ({w}x{h} < 9x8)")
    xs = [x * w // 9 for x in range(10)]
    ys = [y * h // 8 for y in range(9)]
    stride = w * ch
    sums = [[0] * 9 for _ in range(8)]
    cnts = [[0] * 9 for _ in range(8)]
    for gy in range(8):
        for gx in range(9):
            s = 0
            for yy in range(ys[gy], ys[gy + 1]):
                row = yy * stride
                lo, hi = row + xs[gx] * ch, row + xs[gx + 1] * ch
                s += sum(px[lo:hi])
            sums[gy][gx] = s
            cnts[gy][gx] = (ys[gy + 1] - ys[gy]) * (xs[gx + 1] - xs[gx])
    out = 0
    for gy in range(8):
        for gx in range(8):
            a, b = sums[gy][gx], sums[gy][gx + 1]
            ca, cb = cnts[gy][gx], cnts[gy][gx + 1]
            if b * ca > a * cb:  # mean(right) > mean(left), exactly
                out |= 1 << (gy * 8 + gx)
    return out - (1 << 64) if out >= (1 << 63) else out


def hash_extract(df: DataFrame, hash_fn, synth=None) -> DataFrame:
    """THE shared Arrow boundary of every per-modality 64-bit perceptual
    hash extractor: (doc_id, binary blob) → (doc_id, dhash long), NULL on any
    decode failure (the all-None convention — corrupt media never fails a
    task or pairs downstream).  ``hash_fn`` is a plain ``bytes → int``
    (``dhash64`` / ``audio_dhash64`` / avi's ``video_dhash64``); shipping
    covers this module + the jpeg/avi codecs, so every modality's closure
    unpickles on package-less executors.

    ``synth``: optional batches→batches generator producing the
    (id, blob) frames from ``df``'s columns INSIDE the same Python task —
    fuses a synthetic/benchmark blob producer with the decode so the
    blobs never round-trip JVM↔Python between two chained mapInPandas
    operators and the per-task overhead is paid once (guide §4; two
    chained Python map nodes measured ~1.6x the fused cost at bench
    scale).  Production corpora pass blobs in ``df`` directly
    (synth=None, unchanged path)."""
    _ship_by_value()
    blob_col, id_col = "blob", "doc_id"
    id_type = dict(df.dtypes)[id_col]

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if synth is not None:
            batches = synth(batches)
        for pdf in batches:
            hashes = []
            for blob in pdf[blob_col]:
                try:
                    hashes.append(hash_fn(bytes(blob)))
                except Exception:
                    hashes.append(None)
            out = pdf[[id_col]].copy()
            # nullable Int64, NEVER inferred: a mixed None/int column would
            # infer float64 and silently round every 64-bit hash to 53-bit
            # precision (low ~10 bits lost) before the Arrow long cast
            out["dhash"] = pd.array(hashes, dtype="Int64")
            yield out

    src = df if synth is not None else df.select(id_col, blob_col)
    return src.mapInPandas(_extract, f"`{id_col}` {id_type}, dhash long")


def extract_image_dhash(df: DataFrame, synth=None) -> DataFrame:
    """Arrow-batched :func:`dhash64` over the binary ``blob`` column →
    (doc_id, dhash long); undecodable/too-small blobs yield a NULL dhash (the all-None
    convention).  The image twin of the text corpus's simhash pass —
    compose with ``signature_hamming_pairs`` for perceptual near-dup
    pairs at corpus scale (banded equijoin, no all-pairs)."""
    return hash_extract(df, dhash64, synth=synth)


def _wav_mixdown(blob: bytes):
    """Real stdlib PCM WAV decode → ``(n_frames, n_channels, sampwidth,
    mix)`` where ``mix`` is a numpy int64 array of per-frame RAW sample
    values summed across channels (the integer-exact channel-sum mixdown
    — one documented convention for every multi-channel audio op).
    Supports 8-bit unsigned and 16-bit signed little-endian PCM, any
    channel count; ``n_frames`` reflects the frames ACTUALLY present (a
    data chunk shorter than the header claims truncates, and a trailing
    partial frame is dropped).  Raises ``ValueError`` for non-WAV blobs
    and unsupported sample widths (24/32-bit stay loudly gated)."""
    import io
    import wave

    import numpy as np

    if blob is None or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    with wave.open(io.BytesIO(bytes(blob))) as wf:
        sw, nch = wf.getsampwidth(), wf.getnchannels()
        if sw not in (1, 2):
            raise ValueError(
                f"unsupported PCM sample width {sw * 8}-bit (8/16 only)"
            )
        frames = wf.readframes(wf.getnframes())
    a = np.frombuffer(frames, dtype=np.uint8 if sw == 1 else "<i2")
    n = len(a) // nch
    mix = a[: n * nch].astype(np.int64).reshape(n, nch).sum(axis=1)
    return n, nch, sw, mix


def audio_dhash64(blob: bytes) -> int:
    """Amplitude-profile difference hash for audio — the WAV member of
    the one-hash-per-modality family (text ``simhash64``, image
    :func:`dhash64`): real stdlib decode (8-bit unsigned or 16-bit signed
    PCM, stereo channel-sum mixed down via :func:`_wav_mixdown`) → 65
    equal time slices → per-slice loudness ``sum(|s − bias|)`` over the
    mixdown (bias = 128 per channel for 8-bit, 0 for 16-bit) → bit ``i``
    set iff slice ``i+1`` is louder than slice ``i`` (cross-multiplied by
    slice lengths, so uneven splits stay integer-exact) → signed 64-bit
    packing (bit 63 wraps negative, the cross-engine BIGINT convention).
    Near-identical recordings (re-encodes, tiny edits) differ in a few
    bits; feed ``dedup.signature_hamming_pairs`` for banded near-dup
    pairs.  All sample math is vectorized numpy (``frombuffer`` +
    ``add.reduceat`` — round-8 verdict #4; bit-identical to the original
    per-sample loop, pinned in tests).  Raises ``ValueError`` for
    non-WAV/unsupported-width blobs and clips shorter than 65 frames."""
    import numpy as np

    n, nch, sw, mix = _wav_mixdown(blob)
    if n < 65:
        raise ValueError(f"audio too short for dhash ({n} < 65 frames)")
    amp = np.abs(mix - 128 * nch) if sw == 1 else np.abs(mix)
    bounds = np.array([i * n // 65 for i in range(66)], dtype=np.int64)
    sums = [int(s) for s in np.add.reduceat(amp, bounds[:65])]
    cnts = [int(c) for c in bounds[1:] - bounds[:-1]]
    out = 0
    for i in range(64):
        if sums[i + 1] * cnts[i] > sums[i] * cnts[i + 1]:
            out |= 1 << i
    return out - (1 << 64) if out >= (1 << 63) else out


def extract_audio_dhash(df: DataFrame, synth=None) -> DataFrame:
    """Arrow-batched :func:`audio_dhash64` over the binary ``blob`` column
    → (doc_id, dhash long); undecodable/too-short blobs yield NULL (the all-None
    convention) and never pair downstream."""
    return hash_extract(df, audio_dhash64, synth=synth)


def pixel_stats(blob: bytes) -> dict[str, Any]:
    """Per-channel pixel statistics from a REAL stdlib decode (PNG, GIF,
    or 24-bit BMP): (width, height, channels, per-channel means rounded
    6dp, global min/max, n_frames — REAL for GIF, 1 otherwise; GIF stats
    cover the first frame).  Undecodable/unsupported blobs return the
    same keys all-None — the mixed-media-table convention."""
    nulls = {
        "width": None, "height": None, "channels": None,
        "ch_means": None, "px_min": None, "px_max": None, "n_frames": None,
        "px_probe": None,
    }
    try:
        if blob is None:
            return nulls
        w, h, ch, px, n_frames = decode_image_pixels(blob)
        n = w * h
        if n == 0:  # zero-area PNG (w or h = 0) decodes to no pixels
            return nulls
        import numpy as np

        # vectorized exact-integer sums (the avi.py pattern) — the old
        # per-byte enumerate loop was ~50M interpreter iterations on a
        # 4096² RGB image; int64 sums are bit-identical to the Python fold
        a = np.frombuffer(bytes(px), dtype=np.uint8).reshape(-1, ch)
        sums = a.sum(axis=0, dtype=np.int64)
        return {
            "width": w,
            "height": h,
            "channels": ch,
            "ch_means": [round(int(s) / n, 6) for s in sums],
            "px_min": int(a.min()),
            "px_max": int(a.max()),
            "n_frames": n_frames,
            # POSITION-SENSITIVE probe: channel sum of the pixel at
            # (col 0, row 1) — means/min/max are permutation-invariant,
            # and row 0 is the FIRST interlace pass (lands correctly even
            # under a broken reorder), so row 1 (transmitted 5th in an
            # interlaced stream) is the cheapest cell that actually
            # catches a row-order bug
            "px_probe": sum(px[w * ch : (w + 1) * ch]) if h > 1 else sum(px[:ch]),
        }
    except Exception:  # truncated/corrupt container → all-None row
        return nulls


PIXEL_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("ch_means", ArrayType(DoubleType())),
        StructField("px_min", IntegerType()),
        StructField("px_max", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("px_probe", IntegerType()),
    ]
)


def extract_pixel_stats(df: DataFrame, synth=None) -> DataFrame:
    """Arrow-batched REAL pixel statistics over the binary ``blob`` column — the
    quality-filter shape of an image-curation pass (brightness bounds,
    constant-image detection) with an honest decoder instead of a stub.
    Same executor-shipping rule as :func:`extract_media_features`.
    ``synth``: see :func:`hash_extract` — fuses a blob producer into the
    same Python task (benchmark feeds; production passes blobs in df)."""
    _ship_by_value()

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if synth is not None:
            batches = synth(batches)
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                # SQL NULL blobs surface as None — pixel_stats returns the
                # all-None row for them, same as any undecodable input
                st = pixel_stats(bytes(blob) if blob is not None else None)
                st["doc_id"] = int(doc_id)
                rows.append(st)
            out = pd.DataFrame(
                rows, columns=[f.name for f in PIXEL_STATS_SCHEMA.fields]
            )
            yield out.astype(
                {"width": "Int32", "height": "Int32", "channels": "Int32",
                 "px_min": "Int32", "px_max": "Int32", "n_frames": "Int32",
                 "px_probe": "Int32"}
            )

    return df.mapInPandas(_extract, PIXEL_STATS_SCHEMA)  # synth: df carries producer inputs


def resize_image(df: DataFrame, width: int, height: int) -> DataFrame:
    """REAL image resize for PNG/BMP/GIF/baseline-JPEG blobs — ONE stdlib
    decode through :func:`decode_image_pixels` (the central dispatch, so
    this op supports exactly what the decoders support — GIF included,
    first frame), nearest-neighbor index sampling, PNG re-encode — the
    thumbnailing pass of an image-curation pipeline, Arrow-batched like
    every media op.  GIF/JPEG input TRANSCODES to PNG on output (a
    fixture-grade re-encoder for either would be dishonest; curation
    thumbnails are lossless-preferred anyway).
    Output: (doc_id, blob, resized); blobs the stdlib cannot decode
    (arithmetic JPEG, non-image bytes) pass through UNCHANGED with
    ``resized = false`` — a mixed-media table keeps flowing, and the
    flag makes the skipped set auditable.
    (Nearest-neighbor, not a filtered kernel: honest with pure stdlib,
    deterministic, and exactly testable — src pixel of (x, y) is
    (x·W_src÷W, y·H_src÷H).)"""
    _ship_by_value()

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_blobs, flags = [], []
            for blob in pdf["blob"]:
                if blob is None:  # SQL NULL: pass through, flagged
                    out_blobs.append(None)
                    flags.append(False)
                    continue
                blob = bytes(blob)
                try:
                    sw, sh, ch, px, _ = decode_image_pixels(blob)
                    dst = bytearray()
                    for y in range(height):
                        sy = y * sh // height
                        base = sy * sw * ch
                        for x in range(width):
                            sx = x * sw // width
                            dst += px[base + sx * ch : base + (sx + 1) * ch]
                    out_blobs.append(
                        encode_png(width, height, bytes(dst), channels=ch)
                    )
                    flags.append(True)
                except Exception:
                    out_blobs.append(blob)
                    flags.append(False)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "blob": out_blobs, "resized": flags}
            )

    return df.select("doc_id", "blob").mapInPandas(
        _resize, "doc_id long, blob binary, resized boolean"
    )


def extract_audio_stats(df: DataFrame, synth=None) -> DataFrame:
    """REAL audio SAMPLE decode (stdlib ``wave``): reads the actual PCM
    frames — not just the header — and emits amplitude statistics per
    blob: (doc_id, n_samples, amp_sum, amp_min, amp_max) over the RAW
    per-frame channel-sum mixdown (:func:`_wav_mixdown` — 8-bit unsigned
    or 16-bit signed PCM, any channel count; for 8-bit mono this is
    exactly the raw byte values, the original convention).  The
    loudness/clipping audit of an audio-curation pass; mean =
    amp_sum / n_samples, kept as INTEGERS so cross-engine checks are
    float-free.  Non-WAV / unsupported-width blobs yield all-None rows.
    Arrow-batched like every media op."""
    _ship_by_value()

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if synth is not None:
            batches = synth(batches)
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                row = {"doc_id": int(doc_id), "n_samples": None,
                       "amp_sum": None, "amp_min": None, "amp_max": None}
                try:
                    n, nch, sw, mix = _wav_mixdown(bytes(blob))
                    # a VALID zero-frame WAV reports 0, not None —
                    # "silent upload" is not "corrupt"
                    row.update(
                        n_samples=n,
                        amp_sum=int(mix.sum()),
                        amp_min=int(mix.min()) if n else None,
                        amp_max=int(mix.max()) if n else None,
                    )
                except Exception:
                    pass  # malformed container → all-None row
                rows.append(row)
            out = pd.DataFrame(
                rows, columns=["doc_id", "n_samples", "amp_sum", "amp_min", "amp_max"]
            )
            yield out.astype(
                {"n_samples": "Int64", "amp_sum": "Int64",
                 "amp_min": "Int32", "amp_max": "Int32"}
            )

    src = df if synth is not None else df.select("doc_id", "blob")
    return src.mapInPandas(
        _extract,
        "doc_id long, n_samples long, amp_sum long, amp_min int, amp_max int",
    )


# -- GIF pixel decode (LZW), stdlib only ------------------------------------


def _gif_lzw_decode(data: bytes, min_code: int, npix: int) -> bytes:
    """GIF-flavoured LZW (GIF89a spec appendix F): LSB-first variable-width
    codes (min_code+1 … 12 bits), CLEAR resets the table, the width bumps
    when the next free code reaches 2^width, and the classic
    code-not-yet-in-table case (cScSc) emits prev + prev[0]."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    table: dict[int, bytes] = {i: bytes([i]) for i in range(clear)}
    next_code, width = end + 1, min_code + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos, total = 0, len(data) * 8
    while len(out) < npix:
        if bitpos + width > total:
            break
        code = 0
        for i in range(width):
            code |= ((data[(bitpos + i) >> 3] >> ((bitpos + i) & 7)) & 1) << i
        bitpos += width
        if code == end:
            break
        if code == clear:
            table = {i: bytes([i]) for i in range(clear)}
            next_code, width, prev = end + 1, min_code + 1, None
            continue
        if code in table:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"bad LZW code {code}")
        out += entry
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) < npix:
        raise ValueError("LZW stream ended early")
    return bytes(out[:npix])


def _gif_lzw_encode(indices: bytes, min_code: int) -> bytes:
    """The matching LZW encoder (test/fixture generator): greedy
    longest-match dictionary build with the SAME width-bump timing the
    decoder expects; stops adding entries at code 4096 (decoders stop in
    lockstep, no CLEAR needed)."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code, width = end + 1, min_code + 1
    bits: list[int] = []

    def emit(code: int) -> None:
        for i in range(width):
            bits.append((code >> i) & 1)

    emit(clear)
    s = b""
    for c in indices:
        sc = s + bytes([c])
        if sc in table:
            s = sc
            continue
        emit(table[s])
        if next_code < 4096:
            table[sc] = next_code
            next_code += 1
            # ONE STEP LATER than the decoder's bump: the decoder adds no
            # entry for the first code after a clear, so its table lags
            # this one by exactly one — it switches width after ITS
            # next_code reaches 2^width, which is when ours is 2^width+1.
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        s = bytes([c])
    if s:
        emit(table[s])
    emit(end)
    out = bytearray()
    for i in range(0, len(bits), 8):
        out.append(sum(b << j for j, b in enumerate(bits[i : i + 8])))
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_frame_count(blob: bytes) -> int:
    """Frame count from the GIF block walk alone (no LZW decompress):
    one 0x2C image descriptor per frame.  Raises on malformed streams."""
    packed = blob[10]
    pos = 13
    if packed & 0x80:
        pos += 3 * (2 ** ((packed & 7) + 1))
    frames = 0
    while pos < len(blob):
        b0 = blob[pos]
        if b0 == 0x3B:
            break
        if b0 == 0x21:
            pos += 2
            while blob[pos] != 0:
                pos += 1 + blob[pos]
            pos += 1
        elif b0 == 0x2C:
            ipacked = blob[pos + 9]
            pos += 10
            if ipacked & 0x80:
                pos += 3 * (2 ** ((ipacked & 7) + 1))
            pos += 1  # LZW min code size
            while blob[pos] != 0:
                pos += 1 + blob[pos]
            pos += 1
            frames += 1
        else:
            raise ValueError(f"bad GIF block 0x{b0:02x}")
    if frames == 0:
        raise ValueError("GIF has no image data")
    return frames


def decode_gif_pixels(blob: bytes) -> tuple[int, int, int, bytes, int]:
    """REAL GIF pixel decode, stdlib only: block walk (extensions skipped,
    local color tables honored), LZW-decompressed index stream mapped
    through the active color table, interlace row reordering — returns
    (width, height, 3, first frame's row-major RGB, n_frames) with the
    frame COUNT real too (one image descriptor per frame).  Unsupported/
    corrupt structures raise ``ValueError``; callers fall back."""
    import struct

    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    try:
        return _decode_gif_pixels_inner(blob)
    except (IndexError, struct.error) as e:
        # a truncated container walks off the end mid-block — surface the
        # DOCUMENTED fallback exception, not a raw IndexError
        raise ValueError(f"truncated GIF: {e}") from e


def _decode_gif_pixels_inner(blob: bytes) -> tuple[int, int, int, bytes, int]:
    import struct

    packed = blob[10]
    pos, gct = 13, None
    if packed & 0x80:
        n = 2 ** ((packed & 7) + 1)
        gct = blob[13 : 13 + 3 * n]
        pos = 13 + 3 * n
    first = None
    frames = 0
    while pos < len(blob):
        b0 = blob[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label byte + length-prefixed sub-blocks
            pos += 2
            while blob[pos] != 0:
                pos += 1 + blob[pos]
            pos += 1
        elif b0 == 0x2C:  # image descriptor
            _, _, iw, ih = struct.unpack("<HHHH", blob[pos + 1 : pos + 9])
            ipacked = blob[pos + 9]
            pos += 10
            ct = gct
            if ipacked & 0x80:
                n = 2 ** ((ipacked & 7) + 1)
                ct = blob[pos : pos + 3 * n]
                pos += 3 * n
            min_code = blob[pos]
            pos += 1
            data = bytearray()
            while blob[pos] != 0:
                ln = blob[pos]
                data += blob[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            frames += 1
            if first is None:
                if ct is None:
                    raise ValueError("GIF frame has no color table")
                if iw == 0 or ih == 0:
                    raise ValueError(f"bad GIF dimensions ({iw}x{ih})")
                idx = _gif_lzw_decode(bytes(data), min_code, iw * ih)
                if ipacked & 0x40:  # interlaced: rebuild row order
                    rows = [idx[r * iw : (r + 1) * iw] for r in range(ih)]
                    order = [
                        y for start, step in _GIF_INTERLACE_PASSES
                        for y in range(start, ih, step)
                    ]
                    fixed = [b""] * ih
                    for src, y in enumerate(order):
                        fixed[y] = rows[src]
                    idx = b"".join(fixed)
                if max(idx) * 3 + 3 > len(ct):
                    raise ValueError("GIF index outside color table")
                rgb = b"".join(ct[3 * i : 3 * i + 3] for i in idx)
                first = (iw, ih, rgb)
        else:
            raise ValueError(f"bad GIF block 0x{b0:02x}")
    if first is None:
        raise ValueError("GIF has no image data")
    return first[0], first[1], 3, first[2], frames


def encode_gif(
    width: int,
    height: int,
    indices: bytes,
    palette: bytes,
    n_frames: int = 1,
    interlaced: bool = False,
) -> bytes:
    """GIF writer (test/fixture generator): global color table, ``n_frames``
    copies of the LZW-compressed index frame (optionally interlaced).
    ``palette`` is 3·2^k RGB bytes (k in 1..8)."""
    import struct

    ncols = len(palette) // 3
    if ncols not in (2, 4, 8, 16, 32, 64, 128, 256) or 3 * ncols != len(palette):
        raise ValueError("palette must hold a power-of-two color count (2..256)")
    bits = ncols.bit_length() - 1  # GCT size field = bits-1; 2 colors -> 1
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0x80 | (bits - 1), 0, 0])
    out += palette
    frame = indices
    if interlaced:
        order = [
            y for start, step in _GIF_INTERLACE_PASSES for y in range(start, height, step)
        ]
        frame = b"".join(indices[y * width : (y + 1) * width] for y in order)
    min_code = max(2, bits)  # spec: LZW min code size >= 2 even for 2 colors
    lzw = _gif_lzw_encode(frame, min_code)
    for _ in range(n_frames):
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
        out += bytes([0x40 if interlaced else 0])
        out += bytes([min_code])
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)

"""Multimodal operator tests: the mapInPandas plumbing with the stub
decoders, and the stdlib decoders that swap into it."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from modal_vector_db_spark.operators import multimodal as MM

_CONTRACT_KEYS = {"width": int, "height": int, "n_frames": int}


def _check_contract(meta: dict) -> None:
    assert set(meta) == set(_CONTRACT_KEYS), meta
    for k, typ in _CONTRACT_KEYS.items():
        assert isinstance(meta[k], typ), (k, meta[k])
        assert meta[k] >= 1


def test_fake_decoders_satisfy_contract():
    _check_contract(MM._decode_image_fake(b"some image bytes"))
    _check_contract(MM._decode_video_fake(b"some video bytes"))


def test_extract_media_features_stub_pipeline(spark):
    rows = [(i, "image" if i % 2 == 0 else "video", bytes([i]) * (10 + i)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, media_type string, blob binary")
    out = MM.extract_media_features(df).orderBy("doc_id").collect()
    assert len(out) == 20
    for i, r in enumerate(out):
        assert r["n_bytes"] == 10 + i
        assert r["checksum"] == hashlib.sha256(bytes([i]) * (10 + i)).hexdigest()
        assert r["n_frames"] == 1 if i % 2 == 0 else r["n_frames"] >= 1


def test_frame_sample_stub_explodes_frames(spark):
    rows = [(1, "video", b"v1" * 50), (2, "video", b"v2" * 50)]
    df = spark.createDataFrame(rows, "doc_id long, media_type string, blob binary")
    out = MM.frame_sample_stub(df, every_n=30).collect()
    feats = {r["doc_id"]: r["n_frames"] for r in MM.extract_media_features(df).collect()}
    for doc_id, n_frames in feats.items():
        expected = len(range(0, max(n_frames - 1, 0) + 1, 30))
        assert sum(1 for r in out if r["doc_id"] == doc_id) == expected


def _make_wav(sample_rate=22050, n_frames=11025, channels=1) -> bytes:
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(b"\x00\x00" * n_frames * channels)
    return buf.getvalue()


def test_real_audio_decoder_contract():
    """The WAV decoder (stdlib wave — no dependency gap, runs HERE) must
    emit the audio contract keys with exact values."""
    meta = MM._decode_audio_real(_make_wav(sample_rate=22050, n_frames=11025))
    assert meta == {"sample_rate": 22050, "duration_ms": 500}


def test_real_audio_decoder_swaps_into_pipeline(spark):
    """DECODERS['audio'] = _decode_audio_real through the same mapInPandas
    plumbing — the real-decoder swap-in is executed end-to-end, schema and
    Arrow batches included."""
    rows = [
        (1, "audio", _make_wav(sample_rate=16000, n_frames=8000)),
        (2, "audio", _make_wav(sample_rate=44100, n_frames=44100)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media_type string, blob binary")
    orig = MM.DECODERS
    try:
        MM.DECODERS = dict(MM.DECODERS, audio=MM._decode_audio_real)
        out = {r["doc_id"]: r for r in MM.extract_media_features(df).collect()}
    finally:
        MM.DECODERS = orig
    assert (out[1]["sample_rate"], out[1]["duration_ms"]) == (16000, 500)
    assert (out[2]["sample_rate"], out[2]["duration_ms"]) == (44100, 1000)
    assert out[1]["width"] is None and out[1]["n_frames"] is None


def test_wav_header_decoder_is_default_audio_path(spark):
    """Real WAV bytes flowing through the DEFAULT pipeline (no decoder
    swap) yield wave-parsed sample_rate/duration — round-4 fix: previously
    DECODERS['audio'] was the fake and real WAV got md5-derived nonsense."""
    rows = [
        (1, "audio", _make_wav(sample_rate=12345, n_frames=6172)),
        (2, "audio", b"not riff audio bytes"),  # non-WAV → deterministic fake
        (3, "audio", b"RIFF\x7f\x7f\x7f\x7fWAVEgarbage-after-magic"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media_type string, blob binary")
    out = {r["doc_id"]: r for r in MM.extract_media_features(df).collect()}
    assert (out[1]["sample_rate"], out[1]["duration_ms"]) == (12345, 6172 * 1000 // 12345)
    fake2 = MM._decode_audio_fake(b"not riff audio bytes")
    assert out[2]["sample_rate"] == fake2["sample_rate"]
    # malformed RIFF/WAVE falls back to the fake instead of raising
    fake3 = MM._decode_audio_fake(bytes(rows[2][2]))
    assert out[3]["sample_rate"] == fake3["sample_rate"]


def test_mixed_media_pass_dispatches_all_three_types(spark):
    rows = [(0, "image", b"img"), (1, "video", b"vid"), (2, "audio", b"aud")]
    df = spark.createDataFrame(rows, "doc_id long, media_type string, blob binary")
    out = {r["doc_id"]: r for r in MM.extract_media_features(df).collect()}
    assert out[0]["width"] is not None and out[0]["sample_rate"] is None
    assert out[1]["n_frames"] >= 1 and out[1]["sample_rate"] is None
    assert out[2]["sample_rate"] in (16000, 22050, 44100)
    assert out[2]["width"] is None


def test_header_decoder_parses_real_formats():
    """The stdlib header parser reads true dimensions from actual container
    bytes for all four magic types; garbage and truncated headers fall back
    to the deterministic stub."""
    import struct

    png = b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR" + struct.pack(">II", 640, 480) + b"\x08\x06" + b"\x00" * 20
    assert MM._decode_image_headers(png) == {"width": 640, "height": 480, "n_frames": 1}

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x20\x00\x00trailer"
    assert MM._decode_image_headers(gif) == {"width": 320, "height": 200, "n_frames": 1}

    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 1024, -768) + b"\x00" * 8
    assert MM._decode_image_headers(bmp) == {"width": 1024, "height": 768, "n_frames": 1}

    # JPEG: SOI, APP0 segment (skipped), SOF0 with height=600 width=800
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 6) + b"JF\x00\x00"          # APP0, len 6
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 600, 800) + b"\x03\x00\x00"
    )
    assert MM._decode_image_headers(jpeg) == {"width": 800, "height": 600, "n_frames": 1}

    for junk in (b"not an image at all", b"\x89PNG\r\n\x1a", b"GIF89a\x01", b""):
        assert MM._decode_image_headers(junk) == MM._decode_image_fake(junk)


def test_jpeg_walk_survives_fill_bytes_and_standalone_markers():
    """JPEG spec §B.1.1.2: markers may be preceded by any number of 0xFF
    fill bytes, and TEM (0x01) / RSTn (0xD0–0xD7) markers carry NO length
    field — a walk that blindly reads two length bytes misaligns and real
    JPEGs silently fall through to the fake decoder."""
    import struct

    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 600, 800) + b"\x03\x00\x00"
    want = {"width": 800, "height": 600, "n_frames": 1}

    # fill bytes padding between SOI and APP0, and again before SOF0
    filled = (
        b"\xff\xd8" + b"\xff\xff\xff"
        + b"\xe0" + struct.pack(">H", 6) + b"JF\x00\x00"
        + b"\xff\xff" + sof0[1:]
    )
    assert MM._decode_image_headers(filled) == want

    # standalone markers (TEM, RST0, RST7) interleaved before SOF0
    standalone = b"\xff\xd8" + b"\xff\x01" + b"\xff\xd0" + b"\xff\xd7" + sof0
    assert MM._decode_image_headers(standalone) == want

    # truncated mid-marker: falls back to the stub, never raises
    trunc = b"\xff\xd8\xff\xc0\x00"
    assert MM._decode_image_headers(trunc) == MM._decode_image_fake(trunc)


def test_header_decoder_is_default_image_path(spark):
    """A GIF-headed blob flowing through extract_media_features yields the
    header-parsed dimensions, not the stub's md5-derived ones."""
    import struct

    blob = b"GIF89a" + struct.pack("<HH", 777, 555) + b"\x20\x00\x00payload"
    df = spark.createDataFrame(
        [(1, "image", bytearray(blob))], "doc_id long, media_type string, blob binary"
    )
    row = MM.extract_media_features(df).collect()[0]
    assert (row["width"], row["height"]) == (777, 555)
    assert row["checksum"] == hashlib.sha256(blob).hexdigest()


def test_video_header_decoder_parses_mp4_and_avi():
    import struct

    def box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00"              # v0 + flags
        + struct.pack(">II", 0, 0)        # ctime mtime
        + struct.pack(">II", 1000, 90000) # timescale, duration -> 90s
        + b"\x00" * 80,
    )
    tkhd = box(
        b"tkhd",
        b"\x00\x00\x00\x00" + b"\x00" * 72
        + struct.pack(">II", 1920 << 16, 1080 << 16),  # 16.16 fixed point
    )
    mp4 = box(b"ftyp", b"isom\x00\x00\x02\x00") + box(b"moov", mvhd + box(b"trak", tkhd))
    meta = MM._decode_video_headers(mp4)
    assert meta["width"] == 1920 and meta["height"] == 1080
    assert meta["duration_ms"] == 90000

    avih = b"avih" + struct.pack(">I", 56) + struct.pack(
        "<10I", 33333, 0, 0, 0, 300, 0, 0, 0, 640, 360
    ) + b"\x00" * 16
    avi = b"RIFF" + struct.pack("<I", 0) + b"AVI LIST" + b"\x00" * 8 + avih + b"\x00" * 16
    meta = MM._decode_video_headers(avi)
    assert (meta["width"], meta["height"], meta["n_frames"]) == (640, 360, 300)
    assert meta["duration_ms"] == 33333 * 300 // 1000

    junk = b"definitely not a container"
    assert MM._decode_video_headers(junk) == MM._decode_video_fake(junk)


def test_png_pixel_roundtrip_all_filters_and_colortypes(monkeypatch):
    """encode_png forward-filters rows cycling through ALL five PNG filter
    types, so a successful round-trip proves the decoder genuinely inverts
    Sub/Up/Average/Paeth — for gray, RGB, and RGBA."""
    from modal_vector_db_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    w, h = 13, 11  # odd sizes: stride not a multiple of anything convenient
    for ch in (1, 3, 4):
        px = bytes(
            (x * 7 + y * 13 + c * 29 + (x * y) % 31) % 256
            for y in range(h)
            for x in range(w)
            for c in range(ch)
        )
        blob = encode_png(w, h, px, channels=ch)
        got = decode_png_pixels(blob)
        assert got == (w, h, ch, px), f"roundtrip failed for channels={ch}"
        # single-filter encodings must agree too
        for ft in range(5):
            monkeypatch.setattr(MM, "_PNG_FILTER_CYCLE", (ft,))
            blob_ft = encode_png(w, h, px, channels=ch)
            assert decode_png_pixels(blob_ft)[3] == px, (ch, ft)
        monkeypatch.undo()


def test_png_decode_rejects_unsupported_and_corrupt():
    from modal_vector_db_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
        pixel_stats,
    )
    import pytest as _pytest

    blob = encode_png(4, 4, bytes(48), channels=3)
    with _pytest.raises(ValueError, match="not a PNG"):
        decode_png_pixels(b"nope" + blob)
    # truncated IDAT -> zlib error -> pixel_stats returns the all-None row
    st = pixel_stats(blob[: len(blob) - 20])
    assert st["width"] is None and st["ch_means"] is None
    # interlaced flag -> unsupported variant
    bad = bytearray(blob)
    bad[28] = 1  # IHDR interlace byte
    with _pytest.raises(ValueError, match="unsupported"):
        decode_png_pixels(bytes(bad))


def test_bmp_pixel_decode_padding_and_topdown():
    """BMP: 4-byte row padding and bottom-up row order are the two traps;
    build a 3x2 24-bit BMP by hand and check exact RGB row-major output."""
    import struct

    from modal_vector_db_spark.operators.multimodal import decode_bmp_pixels

    w, h = 3, 2
    rows_rgb = [
        [(1, 2, 3), (4, 5, 6), (7, 8, 9)],       # top row
        [(10, 20, 30), (40, 50, 60), (70, 80, 90)],  # bottom row
    ]
    rowsize = (w * 3 + 3) // 4 * 4  # 12 -> no pad here; use w=3 => 9->12 pad 3
    body = b""
    for r in reversed(rows_rgb):  # bottom-up storage
        line = b"".join(bytes((b_, g, r_)) for (r_, g, b_) in r)
        body += line + b"\x00" * (rowsize - len(line))
    offset = 54
    hdr = (
        b"BM" + struct.pack("<IHHI", offset + len(body), 0, 0, offset)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    )
    got = decode_bmp_pixels(hdr + body)
    flat = bytes(v for row in rows_rgb for px in row for v in px)
    assert got == (w, h, 3, flat)


def test_extract_pixel_stats_operator(spark):
    """The Arrow-batched operator: real decode for PNG/BMP blobs, all-None
    rows for undecodable bytes; means are exact (integer-valued fixture)."""
    from modal_vector_db_spark.operators.multimodal import (
        encode_png,
        extract_pixel_stats,
    )

    w, h = 16, 8
    def gradient(d):
        return bytes(
            (x + 3 * y + 7 * c + d) % 256
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )

    rows = [(int(d), encode_png(w, h, gradient(d), channels=3)) for d in range(6)]
    rows.append((99, b"not an image at all"))
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in extract_pixel_stats(df).collect()}
    for d in range(6):
        r = got[d]
        # closed form: mean_c = d + 7c + 18 exactly (see gradient choice)
        assert r["ch_means"] == [float(d + 7 * c + 18) for c in range(3)], r
        assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
        assert r["px_min"] == d and r["px_max"] == d + 50
    assert got[99]["width"] is None and got[99]["ch_means"] is None


def test_png_decoder_golden_bytes():
    """Decoder anchored WITHOUT the encoder: a 2x2 RGB PNG whose chunk
    layout, zlib stream, and Up-filtered scanlines are hand-assembled from
    the spec (RFC 2083) — kills any symmetric encoder/decoder bug that a
    round-trip alone would cancel."""
    import struct
    import zlib

    from modal_vector_db_spark.operators.multimodal import decode_png_pixels

    # target pixels (row-major RGB): row0 = (10,20,30),(40,50,60)
    #                                row1 = (15,22,33),(45,55,66)
    row0 = bytes([10, 20, 30, 40, 50, 60])
    row1 = bytes([15, 22, 33, 45, 55, 66])
    # scanline 0: filter 0 (None) -> raw row0
    # scanline 1: filter 2 (Up)   -> row1[i] - row0[i] (mod 256), by hand:
    up = bytes([(15 - 10) % 256, (22 - 20) % 256, (33 - 30) % 256,
                (45 - 40) % 256, (55 - 50) % 256, (66 - 60) % 256])
    raw = b"\x00" + row0 + b"\x02" + up

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d) & 0xFFFFFFFF
        )

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert decode_png_pixels(blob) == (2, 2, 3, row0 + row1)


def test_resize_image_real_nearest_neighbor(spark):
    """resize_image: REAL decode -> nearest-neighbor -> PNG re-encode.
    Every output pixel must equal the source pixel at (x*W_src//W,
    y*H_src//H) exactly; undecodable blobs pass through with
    resized=false."""
    from modal_vector_db_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
        resize_image,
    )

    sw, sh = 16, 8

    def gradient(d, ch):
        return bytes(
            (x * 5 + y * 11 + c * 17 + d) % 256
            for y in range(sh)
            for x in range(sw)
            for c in range(ch)
        )

    rows = [
        (0, encode_png(sw, sh, gradient(0, 3), channels=3)),
        (1, encode_png(sw, sh, gradient(9, 1), channels=1)),
        (2, b"JFIF-ish bytes the stdlib cannot decode"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in resize_image(df, 5, 3).collect()}

    for doc_id, ch, d in ((0, 3, 0), (1, 1, 9)):
        assert got[doc_id]["resized"] is True
        w, h, ch2, px = decode_png_pixels(bytes(got[doc_id]["blob"]))
        assert (w, h, ch2) == (5, 3, ch)
        src = gradient(d, ch)
        for y in range(3):
            sy = y * sh // 3
            for x in range(5):
                sx = x * sw // 5
                for c in range(ch):
                    assert px[(y * 5 + x) * ch + c] == src[(sy * sw + sx) * ch + c]
    assert got[2]["resized"] is False
    assert bytes(got[2]["blob"]) == rows[2][1]


def test_extract_audio_stats_reads_real_frames(spark):
    """extract_audio_stats decodes ACTUAL PCM frames via stdlib wave: exact
    integer amplitude stats for a hand-built 8-bit mono WAV, truncation to
    the data-chunk size, and all-None rows for non-WAV bytes."""
    import struct

    from modal_vector_db_spark.operators.multimodal import extract_audio_stats

    def wav(samples: bytes, declared: int | None = None) -> bytes:
        n = len(samples) if declared is None else declared
        return (
            b"RIFF" + struct.pack("<I", 36 + n) + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
            + b"data" + struct.pack("<I", n) + samples
        )

    body = bytes([10, 250, 0, 128, 7])
    rows = [
        (0, wav(body)),                      # exact
        (1, wav(body + b"\xff\xff", declared=5)),  # extra bytes past chunk
        (2, b"not audio"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in extract_audio_stats(df).collect()}
    for d in (0, 1):
        r = got[d]
        assert (r["n_samples"], r["amp_sum"], r["amp_min"], r["amp_max"]) == (
            5, 10 + 250 + 0 + 128 + 7, 0, 250,
        ), r
    assert got[2]["n_samples"] is None and got[2]["amp_sum"] is None


def test_media_ops_survive_nulls_and_hostile_dimensions(spark):
    """Review-pass pins: SQL-NULL blobs flow through every media op as
    all-None/passthrough rows (never a task crash); zero-area PNGs and
    negative-width BMPs are rejected/nulled, not returned as nonsense;
    a VALID zero-sample WAV reports n_samples=0 (not 'corrupt')."""
    import struct
    import zlib

    from modal_vector_db_spark.operators.multimodal import (
        decode_bmp_pixels,
        extract_audio_stats,
        extract_pixel_stats,
        pixel_stats,
        resize_image,
    )

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d) & 0xFFFFFFFF
        )

    zero_png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 0, 0, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b""))
        + chunk(b"IEND", b"")
    )
    assert pixel_stats(zero_png)["width"] is None
    assert pixel_stats(None)["width"] is None

    neg_bmp = bytearray(b"BM" + bytes(52))
    neg_bmp[10:14] = struct.pack("<I", 54)
    neg_bmp[18:26] = struct.pack("<ii", -1, 2)
    neg_bmp[28:30] = struct.pack("<H", 24)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bad BMP dimensions"):
        decode_bmp_pixels(bytes(neg_bmp))

    empty_wav = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
        + b"data" + struct.pack("<I", 0)
    )
    df = spark.createDataFrame(
        [(0, None), (1, zero_png), (2, empty_wav)], "doc_id long, blob binary"
    )
    px = {r["doc_id"]: r for r in extract_pixel_stats(df).collect()}
    assert px[0]["width"] is None and px[1]["width"] is None
    rz = {r["doc_id"]: r for r in resize_image(df, 2, 2).collect()}
    assert rz[0]["resized"] is False and rz[0]["blob"] is None
    au = {r["doc_id"]: r for r in extract_audio_stats(df).collect()}
    assert au[0]["n_samples"] is None
    assert au[2]["n_samples"] == 0 and au[2]["amp_sum"] == 0
    assert au[2]["amp_min"] is None and au[2]["amp_max"] is None


def test_png_roundtrip_property(monkeypatch):
    """Hypothesis: ANY (width, height, channels, pixel bytes, filter
    choice) round-trips exactly through encode_png -> decode_png_pixels —
    the randomized generalization of the fixed-gradient tests (catches
    stride/edge-case arithmetic a hand-picked size never hits, e.g. 1-px
    rows where the 'left neighbor' is always 0)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from modal_vector_db_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 7),
        ch=st.sampled_from([1, 3, 4]),
        seed=st.integers(0, 2**32 - 1),
        filt=st.lists(st.integers(0, 4), min_size=1, max_size=6),
    )
    def check(w, h, ch, seed, filt):
        import random

        rng = random.Random(seed)
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        monkeypatch.setattr(MM, "_PNG_FILTER_CYCLE", tuple(filt))
        blob = encode_png(w, h, px, channels=ch)
        assert decode_png_pixels(blob) == (w, h, ch, px)

    check()


def test_gif_lzw_roundtrip_and_golden():
    """GIF pixel decode: (a) Hypothesis round-trip through the real LZW
    encoder (dictionary growth + width bumps exercised by repetitive
    inputs), (b) a HAND-built LZW stream pinning the code-not-yet-in-table
    (cScSc) case independently of the encoder, (c) interlace reordering,
    (d) real multi-frame counts."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from modal_vector_db_spark.operators.multimodal import (
        _gif_lzw_decode,
        decode_gif_pixels,
        encode_gif,
    )

    palette = bytes(v for i in range(16) for v in (i * 16, 255 - i * 16, i))

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 12), h=st.integers(1, 9), seed=st.integers(0, 2**32 - 1),
        repetitive=st.booleans(), interlaced=st.booleans(),
    )
    def rt(w, h, seed, repetitive, interlaced):
        import random

        rng = random.Random(seed)
        if repetitive:  # long runs force dictionary growth + width bumps
            idx = bytes((i // max(1, w // 2)) % 16 for i in range(w * h))
        else:
            idx = bytes(rng.randrange(16) for _ in range(w * h))
        blob = encode_gif(w, h, idx, palette, interlaced=interlaced)
        gw, gh, ch, rgb, nf = decode_gif_pixels(blob)
        assert (gw, gh, ch, nf) == (w, h, 3, 1)
        expect = b"".join(palette[3 * i : 3 * i + 3] for i in idx)
        assert rgb == expect

    rt()

    # (b) hand-built streams, min_code=2: clear=4, end=5, first free=6.
    def stream(codes):
        bits = []
        for code, width in codes:
            for i in range(width):
                bits.append((code >> i) & 1)
        data = bytearray()
        for i in range(0, len(bits), 8):
            data.append(sum(b << j for j, b in enumerate(bits[i : i + 8])))
        return bytes(data)

    # cScSc: CLEAR, 1, 6 — code 6 is the NOT-YET-DEFINED next code, the
    # decoder must emit prev + prev[0] = [1, 1]
    assert _gif_lzw_decode(stream(((4, 3), (1, 3), (6, 3), (5, 3))), 2, 3) == bytes(
        [1, 1, 1]
    )
    # dictionary reference: CLEAR, 1, 2, 6 — by now 6 = [1, 2]
    assert _gif_lzw_decode(stream(((4, 3), (1, 3), (2, 3), (6, 3), (5, 3))), 2, 4) == bytes(
        [1, 2, 1, 2]
    )

    # (d) frame counting: 3 identical frames
    idx = bytes(range(16)) * 2
    blob3 = encode_gif(8, 4, idx, palette, n_frames=3)
    gw, gh, ch, rgb, nf = decode_gif_pixels(blob3)
    assert (gw, gh, nf) == (8, 4, 3)


def test_pixel_stats_covers_gif(spark):
    """pixel_stats / extract_pixel_stats dispatch GIF blobs through the
    real LZW decode, reporting REAL frame counts."""
    from modal_vector_db_spark.operators.multimodal import (
        encode_gif,
        extract_pixel_stats,
        pixel_stats,
    )

    palette = bytes(v for i in range(4) for v in (10 * i, 20 * i, 30 * i))
    idx = bytes([0, 1, 2, 3] * 2)  # 4x2
    blob = encode_gif(4, 2, idx, palette, n_frames=2)
    st = pixel_stats(blob)
    assert (st["width"], st["height"], st["channels"], st["n_frames"]) == (4, 2, 3, 2)
    # channel means over the palette-mapped pixels: mean index = 1.5
    assert st["ch_means"] == [15.0, 30.0, 45.0]
    df = spark.createDataFrame([(1, blob)], "doc_id long, blob binary")
    r = extract_pixel_stats(df).collect()[0]
    assert r["n_frames"] == 2 and r["ch_means"] == [15.0, 30.0, 45.0]


def test_decode_image_pixels_dispatch_and_gates():
    """The factored one-stop dispatcher must agree with the per-format
    decoders and raise on unknown containers (pixel_stats keeps mapping
    those to the all-None row)."""
    import pytest

    from modal_vector_db_spark.operators.multimodal import (
        decode_image_pixels,
        encode_png,
        pixel_stats,
    )

    px = bytes((x * 29 + y * 17) % 256 for y in range(8) for x in range(9))
    blob = encode_png(9, 8, px, channels=1)
    w, h, ch, got, nf = decode_image_pixels(blob)
    assert (w, h, ch, nf) == (9, 8, 1, 1) and got == px
    with pytest.raises(ValueError, match="unrecognized"):
        decode_image_pixels(b"\x00\x01\x02\x03 not an image")
    assert pixel_stats(b"\x00\x01\x02\x03")["width"] is None


def test_dhash64_properties():
    """dHash contract: deterministic, gradient-sensitive, near-identical
    images land within a few hamming bits, distinct gradients far apart,
    and bit 63 packs SIGNED (the BIGINT convention)."""
    from modal_vector_db_spark.operators.multimodal import dhash64, encode_png

    def img(f):
        px = bytes(f(x, y) % 256 for y in range(8) for x in range(9))
        return encode_png(9, 8, px, channels=1)

    inc = dhash64(img(lambda x, y: x * 20))       # brighter to the right
    dec = dhash64(img(lambda x, y: 255 - x * 20))  # brighter to the left
    # all 64 bits set packs to signed -1 (bit 63 wraps negative); none -> 0
    assert inc == -1 and dec == 0
    base = dhash64(img(lambda x, y: (7 * x + 29 * y + 3)))
    assert base == dhash64(img(lambda x, y: (7 * x + 29 * y + 3)))  # stable
    # one perturbed pixel flips at most 2 bits (its two h-comparisons)
    def tweaked(x, y):
        v = 7 * x + 29 * y + 3
        return v + 128 if (x, y) == (4, 4) else v
    ham = bin((base ^ dhash64(img(tweaked))) & ((1 << 64) - 1)).count("1")
    assert 1 <= ham <= 2
    # too-small images are loudly gated
    import pytest

    with pytest.raises(ValueError, match="too small"):
        dhash64(encode_png(4, 4, bytes(48), channels=3))


def test_dhash_box_pooling_is_exact_on_upscaled_grid():
    """An 18×16 image built by 2×-upscaling a 9×8 grid must hash
    IDENTICALLY to the grid itself — box means are exact (cross-multiplied
    integer compares, no division rounding)."""
    from modal_vector_db_spark.operators.multimodal import dhash64, encode_png

    grid = [[(5 * x * x + 3 * y + x * y) % 256 for x in range(9)] for y in range(8)]
    small = bytes(grid[y][x] for y in range(8) for x in range(9))
    big = bytes(
        grid[y // 2][x // 2] for y in range(16) for x in range(18)
    )
    h_small = dhash64(encode_png(9, 8, small, channels=1))
    h_big = dhash64(encode_png(18, 16, big, channels=1))
    assert h_small == h_big


def test_extract_image_dhash_and_banded_pairs(spark):
    """End-to-end image near-dup: planted twins (one perturbed pixel) are
    found by the generic hamming banding; unrelated images are not; the
    undecodable row yields NULL and never pairs."""
    from modal_vector_db_spark.operators.dedup import signature_hamming_pairs
    from modal_vector_db_spark.operators.multimodal import (
        dhash64,
        encode_png,
        extract_image_dhash,
    )

    def img(seed, tweak=False):
        px = bytearray((seed * 7 + 13 * x + 29 * y) % 256
                       for y in range(8) for x in range(9))
        if tweak:
            px[0] = (px[0] + 128) % 256
        return encode_png(9, 8, bytes(px), channels=1)

    rows = [(i, bytearray(img(i))) for i in range(0, 40, 3)]
    rows += [(1000 + i, bytearray(img(i, tweak=True))) for i in (0, 9)]
    rows.append((9999, bytearray(b"not an image")))
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    hashes = {r["doc_id"]: r["dhash"] for r in extract_image_dhash(df).collect()}
    assert hashes[9999] is None
    assert hashes[0] == dhash64(img(0))  # distributed == driver-side
    pairs = {
        (r["id_a"], r["id_b"])
        for r in signature_hamming_pairs(
            extract_image_dhash(df), "doc_id", "dhash",
            bits=64, band_bits=16, hamming_threshold=2,
        ).collect()
    }
    assert (0, 1000) in pairs and (9, 1009) in pairs
    assert all(9999 not in p for p in pairs)


def _wav8(pcm: bytes, rate: int = 8000) -> bytes:
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(1)
        wf.setframerate(rate)
        wf.writeframes(pcm)
    return buf.getvalue()


def test_audio_dhash64_properties():
    """Audio dHash contract: deterministic, loudness-gradient-sensitive,
    local perturbations flip at most the touched slice's comparisons,
    and the gates (non-WAV, wide samples, too short) raise ValueError."""
    import pytest

    from modal_vector_db_spark.operators.multimodal import audio_dhash64

    # monotone loudness ramp (no saturation: max 128+124 < 255): every
    # later slice is strictly louder → all 64 bits set
    ramp = bytes(128 + i // 8 for i in range(1000))
    assert audio_dhash64(_wav8(ramp)) == -1  # 64 bits → signed -1
    flat = bytes([128] * 1024)  # silence: no slice louder → 0
    assert audio_dhash64(_wav8(flat)) == 0
    pcm = bytes((37 * i) % 256 for i in range(650))
    h = audio_dhash64(_wav8(pcm))
    assert h == audio_dhash64(_wav8(pcm))  # stable
    # perturbing ONE sample in slice 0 flips at most comparison 0
    p2 = bytearray(pcm)
    p2[0] = (p2[0] + 64) % 256
    ham = bin((h ^ audio_dhash64(_wav8(bytes(p2)))) & ((1 << 64) - 1)).count("1")
    assert ham <= 1
    with pytest.raises(ValueError, match="not a WAV"):
        audio_dhash64(b"\x89PNG\r\n\x1a\n rest")
    with pytest.raises(ValueError, match="too short"):
        audio_dhash64(_wav8(bytes([1] * 64)))


def test_extract_audio_dhash_and_banded_pairs(spark):
    from modal_vector_db_spark.operators.dedup import signature_hamming_pairs
    from modal_vector_db_spark.operators.multimodal import (
        audio_dhash64,
        extract_audio_dhash,
    )

    def pcm(seed, tweak=False):
        b = bytearray((seed * 31 + 7 * i) % 256 for i in range(300))
        if tweak:
            b[0] = (b[0] + 64) % 256
        return bytes(b)

    rows = [(i, bytearray(_wav8(pcm(i)))) for i in range(6)]
    rows.append((100, bytearray(_wav8(pcm(2, tweak=True)))))
    rows.append((9999, bytearray(b"not audio")))
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    hashes = {r["doc_id"]: r["dhash"] for r in extract_audio_dhash(df).collect()}
    assert hashes[9999] is None
    assert hashes[0] == audio_dhash64(_wav8(pcm(0)))
    pairs = {
        (r["id_a"], r["id_b"])
        for r in signature_hamming_pairs(
            extract_audio_dhash(df), "doc_id", "dhash",
            bits=64, band_bits=16, hamming_threshold=1,
        ).collect()
    }
    assert (2, 100) in pairs
    assert all(9999 not in p for p in pairs)


def _wav_any(samples, nch: int, sw: int, rate: int = 8000) -> bytes:
    """Arbitrary-format WAV fixture: 8-bit takes raw bytes, 16-bit a list
    of signed ints (interleaved when nch > 1)."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(nch)
        wf.setsampwidth(sw)
        wf.setframerate(rate)
        if sw == 1:
            wf.writeframes(bytes(samples))
        else:
            wf.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def test_audio_dhash64_vectorized_bit_identical_to_reference():
    """The numpy path (frombuffer + add.reduceat) must be BIT-identical to
    the original per-sample pure-Python loop on 8-bit mono — the round-8
    verdict #4 vectorization may not move a single hash."""
    from modal_vector_db_spark.operators.multimodal import audio_dhash64

    def reference(frames: bytes) -> int:
        n = len(frames)
        bounds = [i * n // 65 for i in range(66)]
        sums = [
            sum(abs(b - 128) for b in frames[bounds[i]: bounds[i + 1]])
            for i in range(65)
        ]
        cnts = [bounds[i + 1] - bounds[i] for i in range(65)]
        out = 0
        for i in range(64):
            if sums[i + 1] * cnts[i] > sums[i] * cnts[i + 1]:
                out |= 1 << i
        return out - (1 << 64) if out >= (1 << 63) else out

    for seed in range(7):
        n = 65 + 137 * seed  # uneven slice splits included
        pcm = bytes((seed * 31 + 7 * i * i + i // 3) % 256 for i in range(n))
        assert audio_dhash64(_wav8(pcm)) == reference(pcm), (seed, n)


def test_audio_16bit_and_stereo_support():
    """16-bit signed and multi-channel PCM (round-8 verdict missing #1):
    channel-sum mixdown, |s| loudness for 16-bit, bias 128/channel for
    8-bit; 24-bit stays loudly gated."""
    import pytest

    from modal_vector_db_spark.operators.multimodal import (
        _wav_mixdown,
        audio_dhash64,
    )

    # 16-bit mono monotone |s| ramp → every slice louder → all bits set
    ramp16 = [30 * i for i in range(1000)]
    assert audio_dhash64(_wav_any(ramp16, 1, 2)) == -1
    assert audio_dhash64(_wav_any([0] * 200, 1, 2)) == 0  # silence
    # NEGATIVE ramp is equally loud in |s| terms → also all bits set
    assert audio_dhash64(_wav_any([-30 * i for i in range(1000)], 1, 2)) == -1

    # stereo mixdown: (L, R) = (s, -s) cancels to silence
    inter = []
    for i in range(300):
        inter += [13 * i, -13 * i]
    assert audio_dhash64(_wav_any(inter, 2, 2)) == 0

    # mixdown convention: RAW channel sums, frames = actual PCM frames
    n, nch, sw, mix = _wav_mixdown(_wav_any([1, 2, 3, 4, 5, 6], 2, 2))
    assert (n, nch, sw) == (3, 2, 2)
    assert list(mix) == [3, 7, 11]
    # 8-bit stereo: raw byte sums
    n, nch, sw, mix = _wav_mixdown(_wav_any(bytes([10, 20, 30, 40]), 2, 1))
    assert (n, nch, sw) == (2, 2, 1)
    assert list(mix) == [30, 70]

    with pytest.raises(ValueError, match="unsupported PCM sample width"):
        import io
        import struct
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(3)
            wf.setframerate(8000)
            wf.writeframes(b"\x00" * 300)
        audio_dhash64(buf.getvalue())


def test_extract_audio_stats_16bit_stereo(spark):
    """extract_audio_stats over the widened decode: 16-bit stereo raw
    mixdown sums (can be negative), 8-bit mono unchanged."""
    from modal_vector_db_spark.operators.multimodal import extract_audio_stats

    inter = [100, -300, 32000, 1, -5, -6]  # frames: -200, 32001, -11
    rows = [
        (0, bytearray(_wav_any(inter, 2, 2))),
        (1, bytearray(_wav8(bytes([10, 250, 0, 128, 7])))),
        (2, bytearray(b"nope")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in extract_audio_stats(df).collect()}
    assert (got[0]["n_samples"], got[0]["amp_sum"],
            got[0]["amp_min"], got[0]["amp_max"]) == (3, 31790, -200, 32001)
    assert (got[1]["n_samples"], got[1]["amp_sum"],
            got[1]["amp_min"], got[1]["amp_max"]) == (5, 395, 0, 250)
    assert got[2]["n_samples"] is None


def test_hash_extract_precision_with_mixed_batch(spark):
    """Review finding: one corrupt blob in a batch made pandas infer
    float64 for the dhash column, silently rounding every 64-bit hash to
    53 bits.  Hashes must come back bit-exact next to a NULL."""
    from modal_vector_db_spark.operators.multimodal import (
        dhash64,
        encode_png,
        extract_image_dhash,
    )

    png = encode_png(16, 9, bytes((7 * i) % 256 for i in range(16 * 9)), channels=1)
    want = dhash64(png)
    rows = [(1, bytearray(png)), (2, bytearray(b"not an image")), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r["dhash"] for r in extract_image_dhash(df).collect()}
    assert got[1] == want  # bit-exact, not 53-bit-rounded
    assert got[2] is None and got[3] is None


def test_media_features_null_blob_row(spark):
    """SQL-NULL blob -> all-None feature row, never a failed task."""
    from modal_vector_db_spark.operators.multimodal import extract_media_features

    df = spark.createDataFrame(
        [(1, "image", None), (2, "image", bytearray(b"GIF89a\x10\x00\x08\x00"))],
        "doc_id long, media_type string, blob binary",
    )
    rows = {r["doc_id"]: r for r in extract_media_features(df).collect()}
    assert rows[1]["n_bytes"] is None and rows[1]["width"] is None
    assert rows[2]["width"] == 16  # sibling row still decodes


def test_frame_sample_zero_and_null_frames(spark):
    """n_frames = 0 or NULL must emit NO frame rows (review finding: the
    old clamp minted a phantom frame 0)."""
    import struct

    from modal_vector_db_spark.operators.multimodal import frame_sample_stub

    # real RIFF/AVI header with dwTotalFrames = 0
    avih = b"\x00" * 16 + struct.pack("<I", 0) + b"\x00" * 36
    avi0 = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(avih) + 12) + b"AVI "
        + b"LIST" + struct.pack("<I", 4 + 8 + len(avih)) + b"hdrl"
        + b"avih" + struct.pack("<I", len(avih)) + avih
    )
    rows = [(1, bytearray(avi0)), (2, None)]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = frame_sample_stub(df.withColumn("media_type", F.lit("video")), every_n=1)
    assert out.count() == 0

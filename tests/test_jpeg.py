"""Baseline-JPEG codec tests (round-6 verdict #4).

Anchoring rule (same as the GIF-LZW decoder): never trust a circular
encode↔decode.  The decoder is anchored on (a) hand-chosen QUANTIZED
coefficient blocks whose expected pixels come from an INDEPENDENT naive
IDCT implemented here, and (b) solid-color files whose decoded pixels are
known in CLOSED FORM (uniform block ⇒ DC-only spectrum, flat quant ⇒
exact).  Negative probes break one stage at a time (zigzag, DC predictor)
and assert the output flips.
"""

from __future__ import annotations

import math

import pytest

from modal_vector_db_spark.operators.jpeg import (
    ZIGZAG,
    decode_jpeg_pixels,
    encode_jpeg_blocks,
    encode_jpeg_solid,
)


def _naive_idct(coef_natural: list[int]) -> list[int]:
    """Textbook O(64²) IDCT straight from T.81 A.3.3 — independent of the
    decoder's separable implementation."""
    out = []
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    # natural index = v*8 + u: v (vertical freq) is the
                    # ROW, u (horizontal) the COLUMN — T.81 orientation,
                    # pinned by test_idct_orientation below
                    s += (
                        cu * cv * coef_natural[v * 8 + u]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            val = int(math.floor(s / 4.0 + 128.0 + 0.5))
            out.append(max(0, min(255, val)))
    return out


def test_golden_coefficient_blocks_match_independent_idct():
    """Hand-chosen DC + AC coefficients (several zigzag positions, both
    signs, a ZRL-range gap) through the real file format must reproduce
    the naive IDCT exactly — anchors Huffman decode, the DC predictor,
    run-length/EOB handling, dequant, de-zigzag, and the IDCT at once."""
    zz = [0] * 64
    zz[0] = -24          # DC (predictor: first block)
    zz[1] = 30           # AC(0,1)
    zz[2] = -17          # AC(1,0)
    zz[5] = 9
    zz[27] = -4          # mid-band
    zz[63] = 2           # last position — exercises a 61-zero run (ZRL×3)
    blk2 = [0] * 64
    blk2[0] = 40         # DC diff = 40 - (-24) = 64 through the predictor
    blk2[3] = -11
    blob = encode_jpeg_blocks(16, 8, [zz, blk2])
    w, h, ch, px = decode_jpeg_pixels(blob)
    assert (w, h, ch) == (16, 8, 1)

    for bi, blk in enumerate((zz, blk2)):
        nat = [0] * 64
        for k in range(64):
            nat[ZIGZAG[k]] = blk[k]  # quant table is flat 1s
        expect = _naive_idct(nat)
        got = [px[y * 16 + bi * 8 + x] for y in range(8) for x in range(8)]
        assert got == expect, f"block {bi}"


def test_golden_anchor_catches_broken_zigzag(monkeypatch):
    """Verify the anchor NEGATIVELY: transpose the zigzag table (a classic
    off-by-transpose bug) and the decoded pixels must change."""
    import modal_vector_db_spark.operators.jpeg as J

    zz = [0] * 64
    zz[0] = 10
    zz[1] = 25  # asymmetric: position (0,1) vs (1,0) differ under transpose
    blob = encode_jpeg_blocks(8, 8, [zz])
    good = decode_jpeg_pixels(blob)[3]
    transposed = [((i % 8) * 8 + i // 8) for i in J.ZIGZAG]
    monkeypatch.setattr(J, "ZIGZAG", transposed)
    bad = decode_jpeg_pixels(blob)[3]
    assert bad != good


def test_solid_color_closed_form_all_subsamplings():
    """Uniform blocks quantize exactly: decoded pixels equal the encoded
    color bit-for-bit for gray, 4:4:4, and 4:2:0 — the planted-file
    ground truth the driver oracle computes without bytes."""
    b = encode_jpeg_solid(19, 11, 200)
    w, h, ch, px = decode_jpeg_pixels(b)
    assert (w, h, ch, set(px)) == (19, 11, 1, {200})

    for sub in ("444", "420"):
        y, cb, cr = 120, 144, 96
        b = encode_jpeg_solid(34, 18, (y, cb, cr), subsampling=sub)
        w, h, ch, px = decode_jpeg_pixels(b)
        assert (w, h, ch) == (34, 18, 3)
        r = max(0, min(255, int(math.floor(y + 1.402 * (cr - 128) + 0.5))))
        g = max(0, min(255, int(math.floor(
            y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5))))
        bl = max(0, min(255, int(math.floor(y + 1.772 * (cb - 128) + 0.5))))
        assert set(px[0::3]) == {r}, sub
        assert set(px[1::3]) == {g}, sub
        assert set(px[2::3]) == {bl}, sub


def test_restart_markers():
    """DRI + RSTn: inject restart markers every MCU into a solid file and
    the decode must still be exact (predictor resets, bit realignment)."""
    import struct

    base = encode_jpeg_solid(24, 8, 66)  # 3 MCUs of 8x8 gray
    # rebuild with DRI=1 and RST between MCUs: re-encode by hand — take
    # the header up to SOS, then re-emit entropy per-MCU
    from modal_vector_db_spark.operators.jpeg import (
        STD_AC_LUM,
        STD_DC_LUM,
        _BitWriter,
        _build_huffman,
        _encode_lengths,
        _write_dc,
    )

    sos_at = base.find(b"\xff\xda")
    header, tail = base[:sos_at], base[sos_at:]
    (sos_len,) = struct.unpack(">H", tail[2:4])
    sos_seg = tail[: 2 + sos_len]
    dri = b"\xff\xdd" + struct.pack(">HH", 4, 1)
    dc_inv = _encode_lengths(_build_huffman(*STD_DC_LUM))
    ac_inv = _encode_lengths(_build_huffman(*STD_AC_LUM))
    chunks = []
    for mcu in range(3):
        w = _BitWriter()
        # after a restart the DC predictor resets to 0, so EVERY segment
        # re-encodes the full value
        _write_dc(w, dc_inv, 8 * (66 - 128))
        ln, code = ac_inv[0x00]
        w.write(code, ln)
        chunks.append(w.flush())
    entropy = (
        chunks[0] + b"\xff\xd0" + chunks[1] + b"\xff\xd1" + chunks[2]
    )
    blob = header + dri + sos_seg + entropy + b"\xff\xd9"
    w_, h_, ch_, px = decode_jpeg_pixels(blob)
    assert (w_, h_, ch_, set(px)) == (24, 8, 1, {66})


def test_unsupported_variants_raise_named():
    """Scope gates are LOUD: arithmetic coding, 12-bit, CMYK count, and
    4x sampling each raise ValueError naming the variant.  (SOF2 is REAL
    since round 9 — see the progressive tests — but a baseline stream
    mislabeled SOF2 must still fail loudly, as a malformed progressive
    scan, not decode to garbage.)"""
    good = bytearray(encode_jpeg_solid(8, 8, 50))
    sof = good.find(b"\xff\xc0")

    arith = bytearray(good)
    arith[sof + 1] = 0xC9  # SOF9: arithmetic sequential
    with pytest.raises(ValueError, match="SOF9"):
        decode_jpeg_pixels(bytes(arith))

    mislabel = bytearray(good)
    mislabel[sof + 1] = 0xC2  # baseline scan wearing a progressive frame
    with pytest.raises(ValueError, match="Se != 0"):
        decode_jpeg_pixels(bytes(mislabel))

    deep = bytearray(good)
    deep[sof + 4] = 12  # precision byte
    with pytest.raises(ValueError, match="precision 12"):
        decode_jpeg_pixels(bytes(deep))

    samp = bytearray(good)
    samp[sof + 11] = 0x41  # component 1's h/v byte: h=4
    with pytest.raises(ValueError, match="sampling 4x1"):
        decode_jpeg_pixels(bytes(samp))

    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg_pixels(b"\x00\x01\x02\x03")


def test_truncated_and_null_blobs_fall_to_none_rows():
    """pixel_stats convention: corrupt/truncated JPEG → the all-None row,
    a decodable one → real stats (means equal the planted color)."""
    from modal_vector_db_spark.operators.multimodal import pixel_stats

    good = encode_jpeg_solid(16, 16, (75, 128, 128))
    st = pixel_stats(good)
    assert (st["width"], st["height"], st["channels"]) == (16, 16, 3)
    assert st["ch_means"] == [75.0, 75.0, 75.0]
    assert st["px_min"] == st["px_max"] == 75

    assert pixel_stats(good[: len(good) // 3])["width"] is None
    assert pixel_stats(None)["width"] is None


def test_pixel_stats_spark_path(spark):
    """extract_pixel_stats over a binary column decodes JPEG alongside
    PNG/GIF/BMP in one Arrow pass (executor-shipping included)."""
    from modal_vector_db_spark.operators.multimodal import (
        encode_png,
        extract_pixel_stats,
    )

    rows = [
        (1, bytearray(encode_jpeg_solid(10, 6, (90, 128, 128)))),
        (2, bytearray(encode_jpeg_solid(9, 7, 44, subsampling="444"))),
        (3, bytearray(encode_png(4, 4, bytes([10, 20, 30] * 16), channels=3))),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in extract_pixel_stats(df).collect()}
    assert got[1]["ch_means"] == [90.0, 90.0, 90.0]
    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (10, 6, 3)
    assert got[2]["ch_means"] == [44.0]
    assert got[2]["channels"] == 1
    assert got[3]["width"] == 4
    assert got[4]["width"] is None


def test_fuzzed_corruption_never_hangs():
    """Every single-byte corruption of a valid file must terminate fast —
    raise or decode, never loop (a 0-length segment would otherwise stall
    the marker walk forever inside an executor).  pixel_stats maps any
    raise to the all-None row, so termination is the entire contract."""
    import random

    from modal_vector_db_spark.operators.multimodal import pixel_stats

    rng = random.Random(3)
    base = encode_jpeg_solid(16, 16, (80, 130, 120), subsampling="420")
    for _ in range(300):
        blob = bytearray(base)
        for _ in range(rng.randrange(1, 4)):
            blob[rng.randrange(len(blob))] = rng.randrange(256)
        st = pixel_stats(bytes(blob))  # must return, corrupt or not
        assert set(st) >= {"width", "ch_means"}
    # the specific stall shape: a segment claiming length 0
    evil = bytearray(base)
    dqt = bytes(evil).find(b"\xff\xdb")
    evil[dqt + 2 : dqt + 4] = b"\x00\x00"
    with pytest.raises(ValueError, match="segment length"):
        decode_jpeg_pixels(bytes(evil))


def test_422_subsampling_path():
    """4:2:2 (h=2, v=1 luma) goes through the same shard math as 4:2:0 but
    with asymmetric axes — build such a file by patching a 4:2:0 file's
    sampling byte is NOT valid (entropy layout differs), so hand-drive
    the decoder contract instead: a 4:4:4 solid re-tagged... simplest
    honest route: synthesize via the block encoder per-component is out
    of scope for the solid encoder, so assert the decoder ACCEPTS the
    sampling pair and decodes a crafted one-MCU 4:2:2 file exactly."""
    import struct

    from modal_vector_db_spark.operators.jpeg import (
        STD_AC_CHR,
        STD_AC_LUM,
        STD_DC_CHR,
        STD_DC_LUM,
        _BitWriter,
        _build_huffman,
        _dht_segment,
        _dqt_segment,
        _encode_lengths,
        _write_dc,
    )

    y, cb, cr = 77, 120, 140
    out = bytearray(b"\xff\xd8")
    out += _dqt_segment(0, [1] * 64)
    out += _dqt_segment(1, [1] * 64)
    # SOF0: 16x8, Y sampled 2x1, chroma 1x1 → one MCU = 2 Y blocks + Cb + Cr
    sof = bytes([8]) + struct.pack(">HH", 8, 16) + bytes(
        [3, 1, 0x21, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, STD_DC_LUM)
    out += _dht_segment(1, 0, STD_AC_LUM)
    out += _dht_segment(0, 1, STD_DC_CHR)
    out += _dht_segment(1, 1, STD_AC_CHR)
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    dc_l = _encode_lengths(_build_huffman(*STD_DC_LUM))
    ac_l = _encode_lengths(_build_huffman(*STD_AC_LUM))
    dc_c = _encode_lengths(_build_huffman(*STD_DC_CHR))
    ac_c = _encode_lengths(_build_huffman(*STD_AC_CHR))
    w = _BitWriter()
    eob_l, eob_c = ac_l[0x00], ac_c[0x00]
    _write_dc(w, dc_l, 8 * (y - 128)); w.write(*reversed(eob_l))
    _write_dc(w, dc_l, 0); w.write(*reversed(eob_l))
    _write_dc(w, dc_c, 8 * (cb - 128)); w.write(*reversed(eob_c))
    _write_dc(w, dc_c, 8 * (cr - 128)); w.write(*reversed(eob_c))
    out += w.flush() + b"\xff\xd9"

    import math

    w_, h_, ch_, px = decode_jpeg_pixels(bytes(out))
    assert (w_, h_, ch_) == (16, 8, 3)
    r = int(math.floor(y + 1.402 * (cr - 128) + 0.5))
    g = int(math.floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5))
    b = int(math.floor(y + 1.772 * (cb - 128) + 0.5))
    assert set(px[0::3]) == {r}
    assert set(px[1::3]) == {g}
    assert set(px[2::3]) == {b}


def test_resize_jpeg_input_transcodes_to_png(spark):
    """resize_image now decodes baseline JPEG and transcodes the thumbnail
    to PNG; a solid input stays solid at the new size (nearest-neighbor on
    constants), and an undecodable (truncated) JPEG passes through
    unchanged with resized=false."""
    from modal_vector_db_spark.operators.multimodal import (
        decode_png_pixels,
        resize_image,
    )

    good = encode_jpeg_solid(32, 20, (99, 128, 128), subsampling="420")
    rows = [(1, bytearray(good)), (2, bytearray(good[:15])), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in resize_image(df, 8, 5).collect()}
    assert got[1]["resized"] is True
    w, h, ch, px = decode_png_pixels(bytes(got[1]["blob"]))
    assert (w, h, ch, set(px)) == (8, 5, 3, {99})
    assert got[2]["resized"] is False
    assert bytes(got[2]["blob"]) == good[:15]
    assert got[3]["resized"] is False and got[3]["blob"] is None


def test_solid_roundtrip_property():
    """Property: for ANY size/color/subsampling in scope, a solid-color
    file decodes to exactly the closed-form RGB — the invariant the
    driver oracle's jpixels arm rests on."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 40),
        y=st.integers(0, 255),
        cb=st.integers(0, 255),
        cr=st.integers(0, 255),
        sub=st.sampled_from(["444", "420"]),
        gray=st.booleans(),
    )
    def check(w, h, y, cb, cr, sub, gray):
        if gray:
            ww, hh, ch, px = decode_jpeg_pixels(encode_jpeg_solid(w, h, y))
            assert (ww, hh, ch) == (w, h, 1)
            assert set(px) == {y}
            return
        blob = encode_jpeg_solid(w, h, (y, cb, cr), subsampling=sub)
        ww, hh, ch, px = decode_jpeg_pixels(blob)
        assert (ww, hh, ch) == (w, h, 3)
        r = max(0, min(255, int(math.floor(y + 1.402 * (cr - 128) + 0.5))))
        g = max(0, min(255, int(math.floor(
            y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5))))
        b = max(0, min(255, int(math.floor(y + 1.772 * (cb - 128) + 0.5))))
        assert set(px[0::3]) == {r}
        assert set(px[1::3]) == {g}
        assert set(px[2::3]) == {b}

    check()


def test_header_corruption_raises_valueerror_not_keyerror():
    """Round-7 ADVICE: a legal-but-unsupported non-interleaved scan used
    to KeyError out of scan_tabs, and truncated segment headers used to
    struct.error — both violate the 'ValueError naming the variant'
    contract direct callers rely on."""
    import struct

    from modal_vector_db_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg_solid,
    )

    base = encode_jpeg_solid(16, 16, (80, 130, 120), subsampling="420")

    # SOS claiming 1 component on a 3-component frame → non-interleaved
    evil = bytearray(base)
    sos = bytes(evil).find(b"\xff\xda")
    assert sos > 0 and evil[sos + 4] == 3
    evil[sos + 4] = 1
    with pytest.raises(ValueError, match="non-interleaved"):
        decode_jpeg_pixels(bytes(evil))

    # scan component ids that don't match the frame's
    evil = bytearray(base)
    assert evil[sos + 5] == 1  # first scan component id
    evil[sos + 5] = 9
    with pytest.raises(ValueError, match="scan component ids"):
        decode_jpeg_pixels(bytes(evil))

    # truncated DQT (segment length shorter than one 8-bit table)
    evil = bytearray(base)
    dqt = bytes(evil).find(b"\xff\xdb")
    evil[dqt + 2 : dqt + 4] = struct.pack(">H", 10)
    with pytest.raises(ValueError, match="truncated JPEG DQT"):
        decode_jpeg_pixels(bytes(evil))

    # truncated SOF0 (header shorter than the fixed 6 bytes)
    evil = bytearray(base)
    sof = bytes(evil).find(b"\xff\xc0")
    evil[sof + 2 : sof + 4] = struct.pack(">H", 5)
    with pytest.raises(ValueError, match="truncated JPEG SOF"):
        decode_jpeg_pixels(bytes(evil))

    # truncated DHT (fewer code-length bytes than the mandatory 16)
    evil = bytearray(base)
    dht = bytes(evil).find(b"\xff\xc4")
    evil[dht + 2 : dht + 4] = struct.pack(">H", 6)
    with pytest.raises(ValueError, match="truncated JPEG DHT"):
        decode_jpeg_pixels(bytes(evil))

    # truncated DRI
    evil = bytearray(base)
    ins = bytes(evil).find(b"\xff\xdb")
    evil[ins:ins] = b"\xff\xdd\x00\x03\x00"  # DRI with a 1-byte body
    with pytest.raises(ValueError, match="truncated JPEG DRI"):
        decode_jpeg_pixels(bytes(evil))


# ---------------------------------------------------------------------------
# Progressive (SOF2) — round 9
# ---------------------------------------------------------------------------


def _prog_blocks(seed: int, n: int) -> list[list[int]]:
    """Deterministic coefficient blocks covering both scan mechanisms:
    odd AND even DC values (DC refinement bits 0 and 1), AC values with
    |v| == 1 (newly-nonzero in the refinement scan), |v| > 1 (correction
    bits), both signs, long zero runs (ZRL in first AND refine scans)."""
    import random

    rng = random.Random(seed)
    out = []
    for _ in range(n):
        blk = [0] * 64
        blk[0] = rng.randrange(-200, 201)
        for _ in range(rng.randrange(0, 8)):
            k = rng.randrange(1, 64)
            blk[k] = rng.choice([-1, 1, -2, 2, -3, 3, -9, 9, 25, -25, 1, -1])
        out.append(blk)
    return out


def test_progressive_equals_baseline_bit_for_bit():
    """A fully-refined progressive file (DC first+refine, AC first+refine)
    must decode IDENTICALLY to the same quantized blocks coded baseline —
    the two paths share dequant + IDCT, so any divergence is a scan-decode
    bug, not rounding."""
    from modal_vector_db_spark.operators.jpeg import encode_jpeg_progressive

    for seed, (w, h) in ((1, (16, 8)), (2, (24, 24)), (3, (40, 16))):
        blocks = _prog_blocks(seed, ((w + 7) // 8) * ((h + 7) // 8))
        base = decode_jpeg_pixels(encode_jpeg_blocks(w, h, blocks))
        prog = decode_jpeg_pixels(encode_jpeg_progressive(w, h, blocks))
        assert prog == base, (seed, w, h)


def test_progressive_matches_independent_idct():
    """NOT circular: hand-chosen blocks through the progressive format
    must reproduce the naive textbook IDCT exactly (same anchor discipline
    as the baseline golden test)."""
    from modal_vector_db_spark.operators.jpeg import encode_jpeg_progressive

    zz = [0] * 64
    zz[0] = -25   # ODD negative DC: refinement bit = 1 on a negative
    zz[1] = 1     # newly-nonzero in refine scan
    zz[2] = -17   # correction-bit coefficient
    zz[40] = -1   # newly-nonzero after a long zero-history run (ZRL)
    zz[63] = 3
    blk2 = [0] * 64
    blk2[0] = 41
    blk2[5] = 2
    blob = encode_jpeg_progressive(16, 8, [zz, blk2])
    w, h, ch, px = decode_jpeg_pixels(blob)
    assert (w, h, ch) == (16, 8, 1)
    for bi, blk in enumerate((zz, blk2)):
        nat = [0] * 64
        for k in range(64):
            nat[ZIGZAG[k]] = blk[k]
        expect = _naive_idct(nat)
        got = [px[y * 16 + bi * 8 + x] for y in range(8) for x in range(8)]
        assert got == expect, f"block {bi}"


def test_progressive_restart_markers(monkeypatch):
    """DRI + RSTn inside every progressive scan: DC predictor and EOB
    runs reset per restart segment on both sides."""
    from modal_vector_db_spark.operators import jpeg
    from modal_vector_db_spark.operators.jpeg import encode_jpeg_progressive

    blocks = _prog_blocks(7, 12)  # 24x32 = 3x4 blocks... use 12 blocks
    base = decode_jpeg_pixels(encode_jpeg_blocks(24, 32, blocks))
    monkeypatch.setattr(jpeg, "_PROGRESSIVE_RESTART_INTERVAL", 5)
    prog = decode_jpeg_pixels(encode_jpeg_progressive(24, 32, blocks))
    assert prog == base


def test_progressive_fuzzed_corruption_never_hangs():
    """Same termination contract as baseline: any single-byte corruption
    of a progressive file returns or raises, never loops."""
    import random

    from modal_vector_db_spark.operators.jpeg import encode_jpeg_progressive
    from modal_vector_db_spark.operators.multimodal import pixel_stats

    rng = random.Random(11)
    base = encode_jpeg_progressive(16, 16, _prog_blocks(5, 4))
    for _ in range(300):
        blob = bytearray(base)
        for _ in range(rng.randrange(1, 4)):
            blob[rng.randrange(len(blob))] = rng.randrange(256)
        st = pixel_stats(bytes(blob))
        assert set(st) >= {"width", "ch_means"}


def test_progressive_truncation_is_loud():
    from modal_vector_db_spark.operators.jpeg import encode_jpeg_progressive

    blob = encode_jpeg_progressive(16, 8, _prog_blocks(9, 2))
    with pytest.raises(ValueError, match="truncated"):
        decode_jpeg_pixels(blob[:-3])  # EOI (and scan tail) gone


def test_idct_orientation():
    """T.81 orientation pin (round-9 review finding): zigzag position 1
    is the HORIZONTAL AC (u=1, v=0) — a block with only that coefficient
    must decode to pixels VARYING ALONG X and constant down each column.
    Catches a transposed IDCT that symmetric fixtures cannot see."""
    from modal_vector_db_spark.operators.jpeg import ZIGZAG, encode_jpeg_blocks, decode_jpeg_pixels

    blk = [0] * 64
    blk[1] = 40  # zigzag position 1 -> natural index ZIGZAG[1] == 1 == (v=0, u=1)
    assert ZIGZAG[1] == 1
    w, h, comps, pix = decode_jpeg_pixels(encode_jpeg_blocks(8, 8, [blk]))
    assert (w, h, comps) == (8, 8, 1)
    rows = [pix[y * 8 : y * 8 + 8] for y in range(8)]
    for y in range(8):
        assert rows[y] == rows[0]  # constant along y
    assert len(set(rows[0])) > 1  # varying along x
    # and the independent naive IDCT agrees with the decoder on it
    assert list(pix) == _naive_idct(blk)
    # the vertical twin: zigzag position 2 -> natural index 8 == (v=1, u=0)
    blk2 = [0] * 64
    blk2[2] = 40
    assert ZIGZAG[2] == 8
    _, _, _, pix2 = decode_jpeg_pixels(encode_jpeg_blocks(8, 8, [blk2]))
    cols = [[pix2[y * 8 + x] for y in range(8)] for x in range(8)]
    for x in range(8):
        assert cols[x] == cols[0]  # constant along x
    assert len(set(cols[0])) > 1  # varying along y


def test_progressive_invalid_spectral_range_raises_named():
    """Corrupt Ss/Se in a progressive SOS must keep the ValueError
    contract (review finding: Se>63 hit IndexError in the AC scan)."""
    from modal_vector_db_spark.operators.jpeg import encode_jpeg_progressive

    blob = bytearray(encode_jpeg_progressive(8, 8, [[10] + [0] * 63]))
    # find the AC scan's SOS (the second one) and corrupt its Se byte
    pos = blob.find(b"\xff\xda")
    pos = blob.find(b"\xff\xda", pos + 2)
    assert pos > 0
    import struct

    (ln,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
    se_at = pos + 2 + ln - 2  # ... Ss Se AhAl
    blob[se_at] = 200
    with pytest.raises(ValueError, match="spectral"):
        decode_jpeg_pixels(bytes(blob))

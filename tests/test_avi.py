"""MJPEG-in-AVI frame access (operators/avi.py): container write/walk
round-trip, exact solid-frame pixel recovery through the REAL baseline
JPEG decoder, the 1-in-N sampling contract (skipped frames never touched),
the non-MJPEG/corrupt gates, the Spark mapInPandas boundary with its
all-NULL error-row contract, and fuzz termination (corrupt sizes must
truncate the walk, never hang an executor)."""

from __future__ import annotations

import math
import struct

import pytest

from modal_vector_db_spark.operators.avi import (
    avi_video_frames,
    encode_mjpeg_avi,
    sample_mjpeg_frames,
)
from modal_vector_db_spark.operators.jpeg import encode_jpeg_solid


def _rgb(y, cb, cr):
    r = int(math.floor(y + 1.402 * (cr - 128) + 0.5))
    g = int(math.floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5))
    b = int(math.floor(y + 1.772 * (cb - 128) + 0.5))
    return r, g, b


def _solid_avi(n_frames=5, w=16, h=8, color0=40):
    frames = [
        encode_jpeg_solid(w, h, (color0 + 7 * f, 120 + f, 130 + f))
        for f in range(n_frames)
    ]
    return encode_mjpeg_avi(frames, w, h, fps=5), frames


def test_header_and_frame_walk_roundtrip():
    blob, frames = _solid_avi(n_frames=7, w=24, h=16)
    offs = avi_video_frames(blob)
    assert len(offs) == 7
    for (off, size), f in zip(offs, frames):
        assert blob[off : off + size] == f  # exact payload recovery
    # the header sniff in multimodal reads what the writer declared
    from modal_vector_db_spark.operators.multimodal import _decode_video_headers

    sniff = _decode_video_headers(blob)
    assert (sniff["width"], sniff["height"], sniff["n_frames"]) == (24, 16, 7)


def test_sampled_frames_decode_to_exact_solid_colors():
    blob, _ = _solid_avi(n_frames=6, w=16, h=8, color0=50)
    got = sample_mjpeg_frames(blob, every_n=2)
    assert [g[0] for g in got] == [0, 2, 4]
    assert all(g[1] == 6 for g in got)
    for idx, total, w, h, ch, px in got:
        assert (w, h, ch) == (16, 8, 3)
        r, g, b = _rgb(50 + 7 * idx, 120 + idx, 130 + idx)
        assert set(px[0::3]) == {r}
        assert set(px[1::3]) == {g}
        assert set(px[2::3]) == {b}


def test_sampling_never_touches_skipped_frames(monkeypatch):
    """MJPEG independence is the scale story: 1-in-N sampling must decode
    exactly the sampled frames, so corrupting every SKIPPED frame must not
    matter."""
    blob, frames = _solid_avi(n_frames=9)
    evil = bytearray(blob)
    offs = avi_video_frames(blob)
    for i, (off, size) in enumerate(offs):
        if i % 3 != 0:  # trash everything the sampler should skip
            evil[off : off + size] = b"\x00" * size
    got = sample_mjpeg_frames(bytes(evil), every_n=3)
    assert [g[0] for g in got] == [0, 3, 6]
    # and decode COUNT is exactly the sampled count
    import modal_vector_db_spark.operators.avi as A

    calls = []
    real = A.decode_jpeg_pixels
    monkeypatch.setattr(A, "decode_jpeg_pixels", lambda b: calls.append(1) or real(b))
    sample_mjpeg_frames(blob, every_n=3)
    assert len(calls) == 3


def test_gates_raise_valueerror():
    with pytest.raises(ValueError, match="not an AVI"):
        avi_video_frames(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError, match="not an AVI"):
        avi_video_frames(b"\xff\xd8\xff\xe0")
    blob, _ = _solid_avi(n_frames=2)
    # non-MJPEG codec: replace a frame payload with non-JPEG bytes
    off, size = avi_video_frames(blob)[0]
    evil = bytearray(blob)
    evil[off : off + 4] = b"H264"
    with pytest.raises(ValueError, match="not a JPEG"):
        sample_mjpeg_frames(bytes(evil))
    with pytest.raises(ValueError, match="at least one frame"):
        encode_mjpeg_avi([], 8, 8)


def test_fuzzed_sizes_terminate():
    """Corrupt RIFF size fields truncate the walk (clamped, monotone
    cursor) — the walk must return or raise fast, never loop."""
    import random

    blob, _ = _solid_avi(n_frames=4)
    rng = random.Random(5)
    for _ in range(200):
        evil = bytearray(blob)
        for _ in range(rng.randrange(1, 4)):
            evil[rng.randrange(len(evil))] = rng.randrange(256)
        try:
            avi_video_frames(bytes(evil))
        except (ValueError, struct.error):
            pass
    # the specific stall shape: a LIST claiming size 0
    evil = bytearray(blob)
    i = bytes(evil).find(b"LIST")
    evil[i + 4 : i + 8] = struct.pack("<I", 0)
    walked = None
    try:
        walked = avi_video_frames(bytes(evil))
    except ValueError:
        pass
    assert walked is None or isinstance(walked, list)


def test_extract_video_frame_stats_spark_boundary(spark):
    from modal_vector_db_spark.operators.avi import extract_video_frame_stats

    good, _ = _solid_avi(n_frames=4, w=16, h=8, color0=60)
    rows = [(1, bytearray(good)), (2, bytearray(b"garbage not avi"))]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {
        (r["doc_id"], r["frame_idx"]): r
        for r in extract_video_frame_stats(df, every_n=2).collect()
    }
    assert set(got) == {(1, 0), (1, 2), (2, None)}
    r0 = got[(1, 0)]
    assert (r0["n_frames"], r0["width"], r0["height"], r0["channels"]) == (
        4, 16, 8, 3,
    )
    rr, gg, bb = _rgb(60, 120, 130)
    assert [round(m) for m in r0["ch_means"]] == [rr, gg, bb]
    assert r0["px_min"] == min(rr, gg, bb) and r0["px_max"] == max(rr, gg, bb)
    err = got[(2, None)]
    assert err["width"] is None and err["ch_means"] is None


def test_rec_interleaved_movi_layout():
    """Interleaved AVIs wrap each frame-time's chunks in a 'rec ' sublist
    inside movi — the frame walk must recurse into them."""
    blob, frames = _solid_avi(n_frames=3)

    # rebuild the movi list with each 00dc chunk wrapped in LIST('rec ')
    def chunk(cc, data):
        pad = b"\x00" if len(data) % 2 else b""
        return cc + struct.pack("<I", len(data)) + data + pad
    movi_payload = b"".join(
        chunk(b"LIST", b"rec " + chunk(b"00dc", f)) for f in frames
    )
    movi = chunk(b"LIST", b"movi" + movi_payload)
    # reassemble: RIFF('AVI ' hdrl + new movi) without idx1
    hdrl_start = 12
    (hdrl_size,) = struct.unpack("<I", blob[hdrl_start + 4 : hdrl_start + 8])
    hdrl = blob[hdrl_start : hdrl_start + 8 + hdrl_size + (hdrl_size & 1)]
    body = b"AVI " + hdrl + movi
    rec_blob = b"RIFF" + struct.pack("<I", len(body)) + body
    got = sample_mjpeg_frames(rec_blob, every_n=1)
    assert [g[0] for g in got] == [0, 1, 2]
    for (idx, total, w, h, ch, px), f in zip(got, frames):
        assert total == 3 and (w, h, ch) == (16, 8, 3)



def test_video_dhash_middle_frame_signature(spark, monkeypatch):
    """video_dhash64 = image dHash of the MIDDLE frame: equals
    dhash64_from_pixels of that frame, decodes exactly ONE frame, and
    near-identical clips (one frame re-encoded elsewhere) keep the same
    signature; the Spark boundary NULLs undecodables."""
    from modal_vector_db_spark.operators.avi import (
        extract_video_dhash,
        video_dhash64,
    )
    from modal_vector_db_spark.operators.jpeg import decode_jpeg_pixels as dec
    from modal_vector_db_spark.operators.multimodal import dhash64_from_pixels

    # solid frames give dhash 0 — still a valid signature for the
    # equality/decode-count contracts checked here
    blob, frames = _solid_avi(n_frames=5, w=16, h=8)
    mid_off, mid_size = avi_video_frames(blob)[2]
    w, h, ch, px = dec(blob[mid_off : mid_off + mid_size])
    assert video_dhash64(blob) == dhash64_from_pixels(w, h, ch, px)

    # exactly ONE entropy decode
    import modal_vector_db_spark.operators.avi as A

    calls = []
    real = A.decode_jpeg_pixels
    monkeypatch.setattr(A, "decode_jpeg_pixels", lambda b: calls.append(1) or real(b))
    video_dhash64(blob)
    assert len(calls) == 1
    monkeypatch.undo()

    # re-encoding a NON-middle frame leaves the signature unchanged
    evil = bytearray(blob)
    off0, size0 = avi_video_frames(blob)[0]
    evil[off0 : off0 + size0] = b"\x00" * size0
    assert video_dhash64(bytes(evil)) == video_dhash64(blob)

    df = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"nope"))], "doc_id long, blob binary"
    )
    got = {r["doc_id"]: r["dhash"] for r in extract_video_dhash(df).collect()}
    assert got[1] == video_dhash64(blob) and got[2] is None


def test_arbitrary_bytes_never_hang_the_walker():
    """Stronger than the mutation fuzz: FULLY arbitrary byte strings (plus
    adversarial RIFF-magic prefixes) must make every parser return or
    raise fast — the walker's monotone-cursor guarantee on inputs that
    never came from a valid writer."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from modal_vector_db_spark.operators.avi import (
        avi_video_frames,
        sample_mjpeg_frames,
    )

    @settings(max_examples=150, deadline=500)
    @given(
        st.one_of(
            st.binary(max_size=300),
            st.binary(max_size=280).map(lambda b: b"RIFF\xff\xff\x00\x00AVI " + b),
        )
    )
    def check(blob):
        for fn in (avi_video_frames, sample_mjpeg_frames):
            try:
                fn(blob)
            except (ValueError, struct.error):
                pass

    check()


def test_dc_only_block_grid_is_pixel_exact_and_dhash_closed_form():
    """The dedup_simhash video arm's fixture contract: a 72x64 grayscale
    JPEG of DC-only 8x8 blocks (qtable all-1s, dc = (v-128)*8) decodes so
    every pixel EQUALS its block value, and the 9x8 dHash grid aligns
    1:1 with the blocks — so the hash is exactly the closed-form
    adjacent-block comparison the DuckDB oracle replays."""
    from modal_vector_db_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg_blocks,
    )
    from modal_vector_db_spark.operators.multimodal import dhash64_from_pixels

    base = 47
    vals = {}
    blocks = []
    for gy in range(8):
        for gx in range(9):
            v = (base * 7 + (11 + base % 89) * gx + 29 * gy) % 256
            vals[(gx, gy)] = v
            blocks.append([(v - 128) * 8] + [0] * 63)
    w, h, ch, px = decode_jpeg_pixels(encode_jpeg_blocks(72, 64, blocks))
    assert (w, h, ch) == (72, 64, 1)
    for gy in range(8):
        for gx in range(9):
            for yy in (0, 7):
                for xx in (0, 7):
                    assert px[(gy * 8 + yy) * 72 + gx * 8 + xx] == vals[(gx, gy)]
    want = 0
    for gy in range(8):
        for gx in range(8):
            if vals[(gx + 1, gy)] > vals[(gx, gy)]:
                want |= 1 << (gy * 8 + gx)
    want = want - (1 << 64) if want >= (1 << 63) else want
    assert dhash64_from_pixels(w, h, ch, px) == want

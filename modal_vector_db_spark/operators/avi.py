"""MJPEG-in-AVI video frame access, stdlib only — the REAL path behind the
video third of the multimodal surface (frame SAMPLING + per-frame pixel
decode), completing the honest-decode family: PNG/BMP/GIF/WAV in
``operators/multimodal.py``, baseline JPEG in ``operators/jpeg.py``, and
now the simplest real video container that composes with that decoder.
Motion-JPEG stores each frame as an independent baseline JPEG inside RIFF
``00dc`` chunks, so frame extraction is container walking plus
:func:`~modal_vector_db_spark.operators.jpeg.decode_jpeg_pixels` — no
inter-frame state, which also makes frame sampling genuinely cheap: a
skipped frame is never entropy-decoded, exactly the property a 100 TB
video-curation pass exploits (sample 1-in-N frames, decode only those).

Every other codec (H.264/VP9/AV1 and non-MJPEG AVIs) raises the documented
``ValueError`` naming the variant — the same loud-gate stance as
progressive JPEG: a real deployment drops an ffmpeg-backed decoder into
the SAME mapInPandas boundary (``extract_video_frame_stats``), and the
Spark-side plumbing (schema, sampling, batch shape, error rows) is real
and tested today.

Container scope: RIFF/AVI with one ``LIST movi`` of ``##dc``/``##db``
video chunks (the classic single-video-stream layout); OpenDML ``AVIX``
extension lists and audio interleave chunks are skipped, not errors.
Corrupt sizes terminate — the walker is monotone in position (the same
never-hang rule the JPEG marker walk pins with fuzz tests).
"""

from __future__ import annotations

import struct
from typing import Any, Iterator

from pyspark.sql import DataFrame

# DRIVER-level import: sample_mjpeg_frames runs inside executor closures,
# and an import statement inside it would execute on the executor where
# the package is not on sys.path (the by-value shipping rule — the /tmp
# verify probe catches this class, pytest does not)
from modal_vector_db_spark.operators.jpeg import decode_jpeg_pixels
from modal_vector_db_spark.operators.multimodal import dhash64_from_pixels

__all__ = [
    "encode_mjpeg_avi",
    "parse_avi_header",
    "avi_video_frames",
    "sample_mjpeg_frames",
    "video_dhash64",
    "extract_video_frame_stats",
    "extract_video_dhash",
]


# ---------------------------------------------------------------------------
# RIFF walking
# ---------------------------------------------------------------------------

def _riff_walk(buf: bytes, pos: int, end: int) -> Iterator[tuple[bytes, int, int]]:
    """Yield (fourcc, data_start, data_end) for each chunk in [pos, end).
    Sizes are clamped to the buffer and the cursor strictly advances, so a
    corrupt size field cannot hang the walk (it just truncates it)."""
    while pos + 8 <= end:
        fourcc = buf[pos : pos + 4]
        (size,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        data_start = pos + 8
        yield fourcc, data_start, min(data_start + size, end)
        pos = data_start + size + (size & 1)  # chunks pad to even


def _require_avi(blob: bytes) -> None:
    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
        raise ValueError("not an AVI (RIFF/'AVI ' magic missing)")


def parse_avi_header(blob: bytes) -> dict[str, Any]:
    """Main-header metadata from ``avih`` (the structured twin of the
    find()-based sniff in ``multimodal._decode_video_headers``): width,
    height, declared n_frames, usec_per_frame.  Raises ``ValueError`` on
    non-AVI input or a missing/truncated header."""
    _require_avi(blob)
    for fourcc, s, e in _riff_walk(blob, 12, len(blob)):
        if fourcc == b"LIST" and blob[s : s + 4] == b"hdrl":
            for cc, cs, ce in _riff_walk(blob, s + 4, e):
                if cc == b"avih":
                    if ce - cs < 40:
                        raise ValueError("truncated AVI avih header")
                    usec, _, _, _, frames, _, _, _, w, h = struct.unpack(
                        "<10I", blob[cs : cs + 40]
                    )
                    return {
                        "width": int(w),
                        "height": int(h),
                        "n_frames": int(frames),
                        "usec_per_frame": int(usec),
                    }
    raise ValueError("AVI: no avih header")


def avi_video_frames(blob: bytes) -> list[tuple[int, int]]:
    """(offset, size) of every video frame chunk (``##dc``/``##db``) in the
    ``LIST movi`` payload, in stream order.  Offsets index into ``blob``
    directly — sampling N frames reads N slices, nothing else."""
    _require_avi(blob)

    def collect(pos: int, end: int, out: list) -> None:
        for cc, cs, ce in _riff_walk(blob, pos, end):
            if len(cc) == 4 and cc[2:4] in (b"dc", b"db") and cc[:2].isdigit():
                out.append((cs, ce - cs))
            elif cc == b"LIST" and blob[cs : cs + 4] == b"rec ":
                # interleaved AVIs group each frame-time's chunks in a
                # 'rec ' sublist — recurse one level (the only nesting
                # the format allows inside movi)
                collect(cs + 4, ce, out)

    for fourcc, s, e in _riff_walk(blob, 12, len(blob)):
        if fourcc == b"LIST" and blob[s : s + 4] == b"movi":
            out: list[tuple[int, int]] = []
            collect(s + 4, e, out)
            return out
    raise ValueError("AVI: no movi list")


def sample_mjpeg_frames(blob: bytes, every_n: int = 1) -> list[tuple[int, int, int, int, int, bytes]]:
    """Decode every ``every_n``-th video frame: returns
    ``(frame_idx, n_frames_total, width, height, channels, pixels)`` per
    sampled frame.  Skipped frames are never touched (MJPEG frames are
    independent).  Non-JPEG frame payloads raise the decoder's
    ``ValueError`` ("not a JPEG") — the non-MJPEG-codec gate."""
    frames = avi_video_frames(blob)
    step = max(1, int(every_n))
    out = []
    for idx in range(0, len(frames), step):
        off, size = frames[idx]
        w, h, ch, px = decode_jpeg_pixels(blob[off : off + size])
        out.append((idx, len(frames), w, h, ch, px))
    return out


def video_dhash64(blob: bytes) -> int:
    """Perceptual near-dup hash for a video: the image dHash of the
    MIDDLE video frame — the cheapest representative-frame signature
    (near-identical encodes/trims of the same clip keep a near-identical
    middle frame, and MJPEG independence means exactly ONE frame is
    entropy-decoded).  Completes the one-hash-per-modality family (text
    simhash64, image dhash64, audio audio_dhash64) through the same
    ``dedup.signature_hamming_pairs`` banding; callers wanting
    robustness to re-cuts hash several sampled frames via
    :func:`sample_mjpeg_frames` + ``dhash64_from_pixels`` and band each.
    Raises ``ValueError`` for non-AVI/non-MJPEG/too-small frames."""
    frames = avi_video_frames(blob)
    if not frames:
        raise ValueError("AVI: zero video frames")
    off, size = frames[len(frames) // 2]
    w, h, ch, px = decode_jpeg_pixels(blob[off : off + size])
    return dhash64_from_pixels(w, h, ch, px)


def extract_video_dhash(df: DataFrame, synth=None) -> DataFrame:
    """Arrow-batched :func:`video_dhash64` over the binary AVI ``blob``
    column → (doc_id, dhash long); NULL on undecodable blobs (the all-None
    convention).  Feed ``signature_hamming_pairs`` for banded video
    near-dup pairs.  Same shared boundary as the image/audio extractors
    (multimodal.hash_extract — its shipping covers this module too)."""
    from modal_vector_db_spark.operators.multimodal import hash_extract

    return hash_extract(df, video_dhash64, synth=synth)


# ---------------------------------------------------------------------------
# Fixture-grade writer (tests + planted driver arms need real files)
# ---------------------------------------------------------------------------

def encode_mjpeg_avi(
    frames: list[bytes], width: int, height: int, fps: int = 10
) -> bytes:
    """Minimal standards-shaped MJPEG AVI: RIFF('AVI ' LIST hdrl(avih,
    LIST strl(strh 'vids'/'MJPG', strf BITMAPINFOHEADER)) LIST movi(00dc
    per frame) idx1).  Each element of ``frames`` must be a complete JPEG
    (``operators/jpeg.py:encode_jpeg_solid`` in fixtures)."""
    if not frames:
        raise ValueError("encode_mjpeg_avi: need at least one frame")

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(list_type: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", list_type + payload)

    usec = 1_000_000 // max(1, int(fps))
    bufsize = max(len(f) for f in frames)
    avih = struct.pack(
        "<14I", usec, 0, 0, 0x10, len(frames), 0, 1, bufsize,
        int(width), int(height), 0, 0, 0, 0,
    )
    strh = b"vids" + b"MJPG" + struct.pack(
        "<IHHIIIIIIII4h",
        0, 0, 0, 0, 1, max(1, int(fps)), 0, len(frames), bufsize, 0, 0,
        0, 0, int(width), int(height),
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, int(width), int(height), 1, 24, b"MJPG",
        int(width) * int(height) * 3, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(
        b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)
    ))
    movi_payload = b""
    idx_entries = []
    for f in frames:
        # idx1 offsets point at the chunk header, relative to the 'movi'
        # fourcc position inside the LIST data
        idx_entries.append((4 + len(movi_payload), len(f)))
        movi_payload += chunk(b"00dc", f)
    movi = lst(b"movi", movi_payload)
    idx1 = chunk(
        b"idx1",
        b"".join(
            b"00dc" + struct.pack("<III", 0x10, off, size)
            for off, size in idx_entries
        ),
    )
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# Spark boundary
# ---------------------------------------------------------------------------

def extract_video_frame_stats(df: DataFrame, every_n: int = 1, synth=None) -> DataFrame:
    """Per-sampled-frame pixel stats over the binary AVI ``blob`` column:
    one output row per decoded frame — ``(doc_id, frame_idx, n_frames, width, height,
    channels, ch_means array<double>, px_min, px_max)``; any decode
    failure (non-AVI, non-MJPEG codec, truncated/corrupt frame) collapses
    to ONE all-NULL row for that document (the ``pixel_stats`` error
    contract, so corrupt corpora profile instead of failing the job).

    Scale shape: embarrassingly parallel Arrow batches, no shuffle; the
    1-in-``every_n`` sampling skips the entropy decode of unsampled frames
    entirely (MJPEG independence), so cost tracks SAMPLED frames, not
    stored ones.  A production H.264 path replaces the decode call inside
    this same boundary."""
    import numpy as np
    import pandas as pd

    # by-value shipping: same rule as multimodal/jpeg/bpe — executors do
    # not have the package on sys.path
    import sys

    from modal_vector_db_spark.operators import jpeg as _jpeg_mod
    from modal_vector_db_spark.shipping import ship_by_value

    ship_by_value(sys.modules[__name__], _jpeg_mod)

    blob_col, id_col = "blob", "doc_id"
    id_type = dict(df.dtypes)[id_col]
    schema = (
        f"`{id_col}` {id_type}, frame_idx int, n_frames int, width int, "
        "height int, channels int, ch_means array<double>, px_min int, "
        "px_max int"
    )
    step = max(1, int(every_n))

    def _extract(batches):
        if synth is not None:
            batches = synth(batches)
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf[id_col], pdf[blob_col]):
                try:
                    sampled = sample_mjpeg_frames(bytes(blob), step)
                    if not sampled:
                        raise ValueError("AVI: zero video frames")
                    for idx, total, w, h, ch, px in sampled:
                        a = np.frombuffer(px, dtype=np.uint8)
                        a = a.reshape(-1, ch).astype(np.float64)
                        rows.append(
                            (rid, idx, total, w, h, ch,
                             [float(m) for m in a.mean(axis=0)],
                             int(a.min()), int(a.max()))
                        )
                except Exception:
                    # broad by design (same contract as extract_video_dhash /
                    # extract_image_dhash): ANY per-document decode failure —
                    # including IndexError/KeyError deep in the JPEG entropy
                    # decode on corrupt payloads — emits the all-None row
                    # instead of failing the whole Spark job
                    rows.append((rid, None, None, None, None, None, None,
                                 None, None))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "frame_idx", "n_frames", "width", "height",
                         "channels", "ch_means", "px_min", "px_max"],
            )

    src = df if synth is not None else df.select(id_col, blob_col)
    return src.mapInPandas(_extract, schema)

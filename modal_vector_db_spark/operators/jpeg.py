"""Baseline JPEG pixel codec, stdlib only — closes the last decode
asymmetry in the multimodal tier (PNG/GIF/BMP/WAV already decode for
real; JPEG pixels were PIL-gated through round 6).

Scope is deliberate and LOUD (reference parity needs the common web-JPEG
shape, not a libjpeg clone):

- DECODE: baseline sequential DCT (SOF0) AND progressive DCT (SOF2,
  spectral selection + successive approximation — round 9; the largest
  remaining real-web share after baseline), 8-bit samples, Huffman
  coding, 1 or 3 components, sampling factors 1 or 2 per axis (covers
  4:4:4, 4:2:2, 4:2:0 — the overwhelming majority of web JPEGs),
  DRI/RSTn restart markers, 8- and 16-bit quantization tables.
  Everything else — arithmetic coding, 12-bit, hierarchical, >2
  sampling factors — raises ``ValueError`` with the variant named, and
  the PIL gate in ``operators/multimodal.py`` stays the documented
  escape hatch for those.
- ENCODE (fixture/test-grade only): solid-color images in closed form
  (a uniform block quantizes to a DC-only spectrum EXACTLY, so decoded
  pixels equal the encoded color bit-for-bit — the planted-file shape
  the driver oracle can verify without ever seeing bytes), plus direct
  emission of hand-chosen quantized coefficient blocks
  (:func:`encode_jpeg_blocks`) so tests can anchor the decoder against
  an INDEPENDENT IDCT instead of a circular encode↔decode.

Pure Python per-pixel work is fine at Arrow-batch granularity for
fixtures and tests (same stance as the PNG unfilter loop); a production
deployment swaps libjpeg-turbo into the same ``mapInPandas`` batch
boundary without touching the Spark plan.

Reference parity note: the reference repo has no media decode at all —
this module exists for the training-data-pipeline extension surface
(image curation at 100 TB is mostly JPEG).
"""

from __future__ import annotations

import math
import struct

# Zigzag scan order: position k in the entropy stream → natural
# (row-major) index in the 8x8 block (ITU T.81 Figure 5).
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Standard Huffman tables (ITU T.81 Annex K.3) — (bits[1..16], symbols).
STD_DC_LUM = (
    [0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
STD_DC_CHR = (
    [0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
STD_AC_LUM = (
    [0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
STD_AC_CHR = (
    [0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# 8x8 IDCT basis: B[u][x] = a(u)/2 * cos((2x+1) u π / 16), so
# sample(x, y) = Σu Σv B[u][x] B[v][y] F(u, v) — the exact float form
# (ITU T.81 A.3.3).  64 entries of driver-precomputed math.cos; the
# per-block work is two 8x8x8 passes (separable).
_B = [
    [
        (math.sqrt(0.5) if u == 0 else 1.0) / 2.0
        * math.cos((2 * x + 1) * u * math.pi / 16.0)
        for x in range(8)
    ]
    for u in range(8)
]


def _build_huffman(bits: list[int], symbols: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman assignment (T.81 C.2): {(length, code): symbol}."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    i = 0
    for ln in range(1, 17):
        for _ in range(bits[ln]):
            table[(ln, code)] = symbols[i]
            code += 1
            i += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over an already-unstuffed entropy segment."""

    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            # past-the-end bits read as 1 (T.81 F.2.2.5 pad convention):
            # a final EOB's padding is all-ones, so trailing reads resolve
            return 1
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _decode_symbol(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | r.read_bit()
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, t: int) -> int:
    if t == 0:
        return 0
    return v - ((1 << t) - 1) if v < (1 << (t - 1)) else v


def _idct_block(coef: list[float]) -> list[int]:
    """Exact float 2-D IDCT + level shift + clamp of a natural-order
    8x8 coefficient block → 64 samples in [0, 255], row-major."""
    # DC-only fast path (the libjpeg special case): a constant block.
    # Computed with the SAME basis constants and association order as the
    # general path's single surviving term (B[0][y]·c00 then B[0][x]·tmp),
    # so the output is bit-identical — an optimization, never a semantic
    # fork.
    if not any(coef[1:]):
        b0 = _B[0][0]
        val = int(math.floor(b0 * (b0 * coef[0]) + 128.0 + 0.5))
        val = 0 if val < 0 else (255 if val > 255 else val)
        return [val] * 64
    # T.81 convention: natural index = v*8 + u with v the VERTICAL and u
    # the HORIZONTAL frequency (the zigzag table maps position 1 — the
    # horizontal AC — to natural index 1 = row 0, col 1), so the natural
    # ROW index pairs with y and the COLUMN index with x.  (Round-9
    # review fix: the original pairing was transposed; every in-repo
    # fixture is DC-only/symmetric, so only real-world JPEGs saw it.)
    # rows: tmp[v][x] = Σu B[u][x] * coef[v*8+u]
    tmp = [[0.0] * 8 for _ in range(8)]
    for v in range(8):
        row = coef[v * 8 : v * 8 + 8]
        if not any(row):
            continue
        for u in range(8):
            c = row[u]
            if c:
                bu = _B[u]
                for x in range(8):
                    tmp[v][x] += bu[x] * c
    out = [0] * 64
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                s += _B[v][y] * tmp[v][x]
            # floor(x+0.5) rounding (not banker's): deterministic and
            # matches the closed-form oracle arithmetic
            val = int(math.floor(s + 128.0 + 0.5))
            out[y * 8 + x] = 0 if val < 0 else (255 if val > 255 else val)
    return out


def decode_jpeg_pixels(blob: bytes) -> tuple[int, int, int, bytes]:
    """REAL baseline-JPEG pixel decode, stdlib only.  Returns (width,
    height, channels, row-major pixel bytes) — channels 1 (grayscale) or
    3 (RGB via the JFIF YCbCr transform).  Raises ``ValueError`` naming
    the variant for anything outside the documented baseline scope (the
    callers' fall-back / PIL-gate contract, same shape as
    ``decode_png_pixels``)."""
    if len(blob) < 4 or blob[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qtables: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    restart_interval = 0
    frame = None  # (w, h, comps) — comps: list of (cid, hs, vs, tq)
    progressive = False
    prog_state: _ProgState | None = None
    pos = 2
    n = len(blob)
    # pos + 2: a trailing EOI is the last TWO bytes of a progressive file
    # (baseline returns at its single SOS and never walks this far)
    while pos + 2 <= n:
        if blob[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        marker = blob[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue  # no-length markers
        if marker == 0xD9:
            if prog_state is not None and prog_state.n_scans:
                # progressive image complete: dequant + IDCT once
                return _reconstruct_progressive(frame, prog_state, qtables)
            raise ValueError("JPEG EOI before scan data")
        if pos + 2 > n:
            break  # marker length truncated → the post-loop raise
        (seg_len,) = struct.unpack(">H", blob[pos : pos + 2])
        if seg_len < 2:
            # a 0/1 length would stall the walk (pos += seg_len) — corrupt
            # data must raise, never hang an executor
            raise ValueError(f"bad JPEG segment length {seg_len}")
        seg = blob[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq == 0:
                    if p + 64 > len(seg):
                        raise ValueError("truncated JPEG DQT segment")
                    qtables[tq] = list(seg[p : p + 64])
                    p += 64
                elif pq == 1:
                    if p + 128 > len(seg):
                        raise ValueError("truncated JPEG DQT segment")
                    qtables[tq] = [
                        struct.unpack(">H", seg[p + 2 * i : p + 2 * i + 2])[0]
                        for i in range(64)
                    ]
                    p += 128
                else:
                    raise ValueError(f"bad DQT precision {pq}")
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                if p + 17 > len(seg):
                    raise ValueError("truncated JPEG DHT segment")
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = [0] + list(seg[p + 1 : p + 17])
                cnt = sum(bits)
                if p + 17 + cnt > len(seg):
                    raise ValueError("truncated JPEG DHT segment")
                symbols = list(seg[p + 17 : p + 17 + cnt])
                huff[(tc, th)] = _build_huffman(bits, symbols)
                p += 17 + cnt
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("truncated JPEG DRI segment")
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            if len(seg) < 6:
                raise ValueError("truncated JPEG SOF segment")
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec} (8 only)")
            if nc not in (1, 3):
                raise ValueError(f"unsupported JPEG component count {nc}")
            if len(seg) < 6 + 3 * nc:
                raise ValueError("truncated JPEG SOF segment")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i], seg[7 + 3 * i], seg[8 + 3 * i]
                hs, vs = hv >> 4, hv & 15
                if hs not in (1, 2) or vs not in (1, 2):
                    raise ValueError(
                        f"unsupported JPEG sampling {hs}x{vs} (1 or 2 only)"
                    )
                comps.append((cid, hs, vs, tq))
            frame = (int(w), int(h), comps)
            progressive = marker == 0xC2
            if progressive:
                prog_state = _ProgState(frame)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG frame type SOF{marker - 0xC0} "
                "(baseline SOF0 + progressive-Huffman SOF2 only; "
                "arithmetic/lossless/hierarchical stay PIL-gated)"
            )
        elif marker == 0xDA:  # SOS — scan follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            if len(seg) < 1:
                raise ValueError("truncated JPEG SOS segment")
            ns = seg[0]
            if len(seg) < 1 + 2 * ns + 3:
                raise ValueError("truncated JPEG SOS segment")
            scan_tabs = {}
            scan_cids = []
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                scan_tabs[cs] = (tt >> 4, tt & 15)
                scan_cids.append(cs)
            if progressive:
                frame_cids = [c[0] for c in frame[2]]
                if not set(scan_cids) <= set(frame_cids):
                    raise ValueError(
                        "JPEG scan component ids do not match frame "
                        "components"
                    )
                ss = seg[1 + 2 * ns]
                se = seg[2 + 2 * ns]
                if se > 63 or ss > 63 or ss > se:
                    # corrupt scan header: keep the documented ValueError
                    # contract (coef[ZIGZAG[k]] would IndexError at k>63)
                    raise ValueError(
                        f"JPEG progressive scan has invalid spectral "
                        f"range Ss={ss} Se={se}"
                    )
                ahal = seg[3 + 2 * ns]
                data_start = pos + seg_len
                end = _decode_progressive_scan(
                    blob, data_start, frame, prog_state,
                    [frame_cids.index(c) for c in scan_cids],
                    scan_tabs, (ss, se, ahal >> 4, ahal & 15),
                    huff, restart_interval,
                )
                pos = end  # next marker (another scan, tables, or EOI)
                continue
            # baseline DECODE scope is ONE interleaved scan covering every
            # frame component; a legal multi-scan (non-interleaved)
            # baseline file must fail with the documented ValueError, not
            # a KeyError from the per-component table lookup
            if ns != len(frame[2]):
                raise ValueError(
                    "unsupported JPEG non-interleaved scan "
                    f"({ns} scan components vs {len(frame[2])} frame "
                    "components; single interleaved scan only)"
                )
            if set(scan_tabs) != {c[0] for c in frame[2]}:
                raise ValueError(
                    "JPEG scan component ids do not match frame components"
                )
            data_start = pos + seg_len
            return _decode_scan(
                blob, data_start, frame, scan_tabs, qtables, huff,
                restart_interval,
            )
        # APPn / COM / others: skip
        pos += seg_len
    raise ValueError(
        "JPEG truncated before EOI"
        if prog_state is not None and prog_state.n_scans
        else "JPEG truncated before SOS"
    )


def _entropy_segments(blob: bytes, start: int) -> tuple[list[bytes], int]:
    """Split one scan's entropy-coded data into restart segments,
    unstuffing FF00 — returns ``(segments, pos)`` where ``pos`` points at
    the 0xFF of the marker that terminated the scan (EOI or the next
    segment marker; progressive files have many scans per image)."""
    segments: list[bytes] = []
    cur = bytearray()
    p = start
    n = len(blob)
    while p < n:
        b = blob[p]
        if b != 0xFF:
            cur.append(b)
            p += 1
            continue
        m = blob[p + 1] if p + 1 < n else 0xD9
        if m == 0x00:
            cur.append(0xFF)
            p += 2
        elif 0xD0 <= m <= 0xD7:
            segments.append(bytes(cur))
            cur = bytearray()
            p += 2
        elif m == 0xFF:
            p += 1  # fill
        else:  # EOI or next marker: scan ends
            break
    segments.append(bytes(cur))
    return segments, min(p, n)


def _assemble_planes(frame, planes, plane_w) -> tuple[int, int, int, bytes]:
    """Crop the MCU-padded component planes to (w, h) and emit pixels:
    grayscale passthrough, or sample-replication upsample + the JFIF
    YCbCr → RGB transform with floor(x+0.5) rounding (the closed-form
    convention every oracle arm recomputes)."""
    w, h, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if len(comps) == 1:
        pw = plane_w[0]
        pl = planes[0]
        out = bytearray(w * h)
        for y in range(h):
            out[y * w : (y + 1) * w] = pl[y * pw : y * pw + w]
        return w, h, 1, bytes(out)
    out = bytearray(w * h * 3)
    (_, yh, yv, _), (_, bh, bv, _), (_, rh, rv, _) = comps
    yp, bp, rp = planes
    ypw, bpw, rpw = plane_w
    for y in range(h):
        yy = y * yv // vmax
        by_ = y * bv // vmax
        ry = y * rv // vmax
        o = y * w * 3
        for x in range(w):
            Y = yp[yy * ypw + (x * yh // hmax)]
            Cb = bp[by_ * bpw + (x * bh // hmax)] - 128
            Cr = rp[ry * rpw + (x * rh // hmax)] - 128
            r = int(math.floor(Y + 1.402 * Cr + 0.5))
            g = int(math.floor(Y - 0.344136 * Cb - 0.714136 * Cr + 0.5))
            b = int(math.floor(Y + 1.772 * Cb + 0.5))
            out[o] = 0 if r < 0 else (255 if r > 255 else r)
            out[o + 1] = 0 if g < 0 else (255 if g > 255 else g)
            out[o + 2] = 0 if b < 0 else (255 if b > 255 else b)
            o += 3
    return w, h, 3, bytes(out)


def _decode_scan(blob, start, frame, scan_tabs, qtables, huff, ri):
    w, h, comps = frame
    if w == 0 or h == 0:
        raise ValueError("zero-area JPEG")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    segments, _ = _entropy_segments(blob, start)

    # per-component sample planes, padded to whole-MCU coverage
    planes = []
    for cid, hs, vs, tq in comps:
        planes.append(bytearray(mcux * hs * 8 * mcuy * vs * 8))
    plane_w = [mcux * c[1] * 8 for c in comps]

    dc_pred = [0] * len(comps)
    seg_i = 0
    reader = _BitReader(segments[0])
    mcu_in_seg = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if ri and mcu_in_seg == ri:
                seg_i += 1
                if seg_i >= len(segments):
                    raise ValueError("JPEG missing restart segment")
                reader = _BitReader(segments[seg_i])
                dc_pred = [0] * len(comps)
                mcu_in_seg = 0
            for ci, (cid, hs, vs, tq) in enumerate(comps):
                q = qtables.get(tq)
                if q is None:
                    raise ValueError(f"JPEG missing quant table {tq}")
                dct, act = scan_tabs[cid]
                dc_tab = huff.get((0, dct))
                ac_tab = huff.get((1, act))
                if dc_tab is None or ac_tab is None:
                    raise ValueError("JPEG missing Huffman table")
                for by in range(vs):
                    for bx in range(hs):
                        coef = [0.0] * 64
                        t = _decode_symbol(reader, dc_tab)
                        dc_pred[ci] += _extend(reader.receive(t), t)
                        coef[0] = dc_pred[ci] * q[0]
                        k = 1
                        while k < 64:
                            rs = _decode_symbol(reader, ac_tab)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            coef[ZIGZAG[k]] = _extend(reader.receive(s), s) * q[k]
                            k += 1
                        samples = _idct_block(coef)
                        ox = (mx * hs + bx) * 8
                        oy = (my * vs + by) * 8
                        pw = plane_w[ci]
                        pl = planes[ci]
                        for yy in range(8):
                            row = (oy + yy) * pw + ox
                            pl[row : row + 8] = bytes(
                                samples[yy * 8 : yy * 8 + 8]
                            )
            mcu_in_seg += 1

    return _assemble_planes(frame, planes, plane_w)


# ---------------------------------------------------------------------------
# Progressive (SOF2) decode — ITU T.81 §G: spectral selection + successive
# approximation.  Coefficients accumulate across scans into per-block
# integer arrays; dequant + IDCT happen once, at EOI.
# ---------------------------------------------------------------------------


class _ProgState:
    """Accumulated coefficient state for a progressive frame: one
    ``[0]*64`` natural-order integer block per 8×8 block of each
    component's MCU-padded grid (the storage grid is MCU-padded exactly
    like the baseline planes; non-interleaved scans cover only the
    component's own ``ceil(cw/8) × ceil(ch/8)`` raster and leave the
    padding blocks zero, per spec)."""

    def __init__(self, frame):
        w, h, comps = frame
        if w == 0 or h == 0:
            raise ValueError("zero-area JPEG")
        self.hmax = max(c[1] for c in comps)
        self.vmax = max(c[2] for c in comps)
        self.mcux = (w + 8 * self.hmax - 1) // (8 * self.hmax)
        self.mcuy = (h + 8 * self.vmax - 1) // (8 * self.vmax)
        self.bw = [self.mcux * c[1] for c in comps]  # storage blocks/row
        self.bh = [self.mcuy * c[2] for c in comps]
        # blocks actually covered by non-interleaved scans
        self.nbx = [
            ((w * c[1] + self.hmax - 1) // self.hmax + 7) // 8 for c in comps
        ]
        self.nby = [
            ((h * c[2] + self.vmax - 1) // self.vmax + 7) // 8 for c in comps
        ]
        self.coefs = [
            [[0] * 64 for _ in range(self.bw[i] * self.bh[i])]
            for i in range(len(comps))
        ]
        self.n_scans = 0


def _refine_nonzero(reader, coef, z, p1, m1) -> None:
    """One AC-refinement correction bit for a nonzero-history coefficient
    (T.81 G.1.2.3 / libjpeg decode_mcu_AC_refine): a 1-bit moves the
    value one quantum away from zero IF that quantum bit is still 0."""
    if reader.receive(1) and (coef[z] & p1) == 0:
        coef[z] += p1 if coef[z] > 0 else m1


def _prog_block_dc(reader, coef, dc_pred, ci, dc_tab, ah, al):
    if ah == 0:  # DC first scan: diff-coded, point-transformed by Al
        t = _decode_symbol(reader, dc_tab)
        dc_pred[ci] += _extend(reader.receive(t), t)
        coef[0] = dc_pred[ci] << al
    else:  # DC refinement: one raw bit per block
        if reader.receive(1):
            coef[0] |= 1 << al


def _prog_block_ac_first(reader, coef, ac_tab, ss, se, al, eobrun):
    """AC first scan for one block; returns the updated EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _decode_symbol(reader, ac_tab)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += reader.receive(r)
            break
        k += r
        if k > se:
            raise ValueError("JPEG AC index overflow")
        coef[ZIGZAG[k]] = _extend(reader.receive(s), s) << al
        k += 1
    return eobrun


def _prog_block_ac_refine(reader, coef, ac_tab, ss, se, al, eobrun):
    """AC refinement scan for one block (T.81 G.1.2.3): newly-nonzero
    coefficients arrive as ±1·2^Al with an interleaved run-length over
    ZERO-HISTORY positions only; every nonzero-history position passed
    over (and every one inside an EOB run) consumes a correction bit.
    Returns the updated EOB run."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _decode_symbol(reader, ac_tab)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.receive(r)
                    break
                val = 0  # ZRL: skip 16 zero-history positions
            elif s == 1:
                val = p1 if reader.receive(1) else m1
            else:
                raise ValueError("bad JPEG AC refinement magnitude")
            while k <= se:
                z = ZIGZAG[k]
                if coef[z] != 0:
                    _refine_nonzero(reader, coef, z, p1, m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                coef[ZIGZAG[k]] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            z = ZIGZAG[k]
            if coef[z] != 0:
                _refine_nonzero(reader, coef, z, p1, m1)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_progressive_scan(
    blob, start, frame, state, scan_cis, scan_tabs, params, huff, ri
):
    """Decode ONE progressive scan's entropy data into the accumulated
    coefficient state; returns the position of the terminating marker.
    ``scan_cis`` are frame-component indexes in scan order; ``params`` is
    (Ss, Se, Ah, Al)."""
    ss, se, ah, al = params
    comps = frame[2]
    segments, end = _entropy_segments(blob, start)
    is_dc = ss == 0
    if is_dc and se != 0:
        raise ValueError("JPEG progressive DC scan with Se != 0")
    if not is_dc and len(scan_cis) != 1:
        raise ValueError("JPEG progressive AC scan must be non-interleaved")

    def tables(ci):
        cid = comps[ci][0]
        dct, act = scan_tabs[cid]
        if is_dc:
            if ah == 0:
                tab = huff.get((0, dct))
                if tab is None:
                    raise ValueError("JPEG missing Huffman table")
                return tab
            return None  # DC refinement reads raw bits only
        tab = huff.get((1, act))
        if tab is None:
            raise ValueError("JPEG missing Huffman table")
        return tab

    # MCU geometry: interleaved scans iterate the frame MCU grid;
    # a non-interleaved scan's "MCU" is ONE block of its component
    if len(scan_cis) > 1:
        total = state.mcux * state.mcuy
    else:
        ci0 = scan_cis[0]
        total = state.nbx[ci0] * state.nby[ci0]

    dc_pred = [0] * len(comps)
    eobrun = 0
    seg_i = 0
    reader = _BitReader(segments[0])
    mcu_in_seg = 0
    for mi in range(total):
        if ri and mcu_in_seg == ri:
            seg_i += 1
            if seg_i >= len(segments):
                raise ValueError("JPEG missing restart segment")
            reader = _BitReader(segments[seg_i])
            dc_pred = [0] * len(comps)
            eobrun = 0
            mcu_in_seg = 0
        if len(scan_cis) > 1:
            mx, my = mi % state.mcux, mi // state.mcux
            for ci in scan_cis:
                _, hs, vs, _ = comps[ci]
                tab = tables(ci)
                for by in range(vs):
                    for bx in range(hs):
                        bidx = (my * vs + by) * state.bw[ci] + mx * hs + bx
                        coef = state.coefs[ci][bidx]
                        _prog_block_dc(reader, coef, dc_pred, ci, tab, ah, al)
        else:
            ci = scan_cis[0]
            bx, by = mi % state.nbx[ci], mi // state.nbx[ci]
            coef = state.coefs[ci][by * state.bw[ci] + bx]
            tab = tables(ci)
            if is_dc:
                _prog_block_dc(reader, coef, dc_pred, ci, tab, ah, al)
            elif ah == 0:
                eobrun = _prog_block_ac_first(
                    reader, coef, tab, ss, se, al, eobrun
                )
            else:
                eobrun = _prog_block_ac_refine(
                    reader, coef, tab, ss, se, al, eobrun
                )
        mcu_in_seg += 1
    state.n_scans += 1
    return end


def _reconstruct_progressive(frame, state, qtables):
    """Dequantize + IDCT every accumulated block and assemble pixels —
    the one place a progressive file touches the float path, identical
    per block to the baseline decoder's (same _idct_block, same
    assembly), so progressive output of a fully-refined file is
    bit-identical to the same image coded baseline."""
    w, h, comps = frame
    planes = []
    plane_w = []
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        q = qtables.get(tq)
        if q is None:
            raise ValueError(f"JPEG missing quant table {tq}")
        qnat = [0] * 64
        for k in range(64):
            qnat[ZIGZAG[k]] = q[k]
        pw = state.bw[ci] * 8
        pl = bytearray(pw * state.bh[ci] * 8)
        for by in range(state.bh[ci]):
            for bx in range(state.bw[ci]):
                coef = state.coefs[ci][by * state.bw[ci] + bx]
                f = [coef[z] * qnat[z] for z in range(64)]
                samples = _idct_block(f)
                ox, oy = bx * 8, by * 8
                for yy in range(8):
                    row = (oy + yy) * pw + ox
                    pl[row : row + 8] = bytes(samples[yy * 8 : yy * 8 + 8])
        planes.append(pl)
        plane_w.append(pw)
    return _assemble_planes(frame, planes, plane_w)


# ---------------------------------------------------------------------------
# Fixture-grade encoder


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            pad = self.acc << (8 - self.nbits) | ((1 << (8 - self.nbits)) - 1)
            self.buf.append(pad)
            if pad == 0xFF:
                self.buf.append(0x00)
            self.acc = 0
            self.nbits = 0
        return bytes(self.buf)


def _encode_lengths(table: dict[tuple[int, int], int]) -> dict[int, tuple[int, int]]:
    """symbol → (length, code) inverse of :func:`_build_huffman`."""
    return {sym: (ln, code) for (ln, code), sym in table.items()}


def _dht_segment(tc: int, th: int, spec) -> bytes:
    bits, symbols = spec
    body = bytes([(tc << 4) | th]) + bytes(bits[1:17]) + bytes(symbols)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def _dqt_segment(tq: int, table: list[int]) -> bytes:
    body = bytes([tq]) + bytes(table)
    return b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body


def _category(v: int) -> int:
    t = 0
    a = abs(v)
    while a:
        a >>= 1
        t += 1
    return t


def _write_dc(w: _BitWriter, inv: dict, diff: int) -> None:
    t = _category(diff)
    ln, code = inv[t]
    w.write(code, ln)
    if t:
        w.write(diff if diff >= 0 else diff + (1 << t) - 1, t)


def encode_jpeg_solid(
    width: int,
    height: int,
    ycbcr: tuple[int, int, int] | int,
    subsampling: str = "444",
) -> bytes:
    """Solid-color baseline JPEG whose DECODED pixels equal the encoded
    color EXACTLY: a uniform block's DCT is DC-only (DC = 8·(v−128));
    with a flat quant table of 1 the quantized spectrum is that integer,
    so the IDCT reproduces v in closed form — planted-file ground truth
    a SQL oracle can compute from the color alone, no bytes needed.
    ``ycbcr`` an int → grayscale single-component file; ``subsampling``
    '444' or '420' (chroma at quarter resolution — identical samples, so
    replication upsampling is exact too)."""
    gray = isinstance(ycbcr, int)
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    flat_q = [1] * 64
    out = bytearray(b"\xff\xd8")  # SOI
    # JFIF APP0 (decoders expect it; ours skips APPn)
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
    out += _dqt_segment(0, flat_q)
    if gray:
        comps = [(1, 1, 1, 0)]
    else:
        s = 2 if subsampling == "420" else 1
        out += _dqt_segment(1, flat_q)
        comps = [(1, s, s, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    sof = bytes([8]) + struct.pack(">HH", height, width) + bytes([len(comps)])
    for cid, hs, vs, tq in comps:
        sof += bytes([cid, (hs << 4) | vs, tq])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, STD_DC_LUM)
    out += _dht_segment(1, 0, STD_AC_LUM)
    if not gray:
        out += _dht_segment(0, 1, STD_DC_CHR)
        out += _dht_segment(1, 1, STD_AC_CHR)
    sos = bytes([len(comps)])
    for cid, *_ in comps:
        sos += bytes([cid, 0x00 if cid == 1 else 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    dc_lum = _encode_lengths(_build_huffman(*STD_DC_LUM))
    ac_lum = _encode_lengths(_build_huffman(*STD_AC_LUM))
    dc_chr = _encode_lengths(_build_huffman(*STD_DC_CHR))
    ac_chr = _encode_lengths(_build_huffman(*STD_AC_CHR))

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    vals = [ycbcr] if gray else list(ycbcr)
    w = _BitWriter()
    emitted = [False] * len(comps)  # per-component DC predictor state
    for _ in range(mcux * mcuy):
        for ci, (cid, hs, vs, tq) in enumerate(comps):
            dc_inv = dc_lum if cid == 1 else dc_chr
            ac_inv = ac_lum if cid == 1 else ac_chr
            for _ in range(hs * vs):
                # DC diff: 8·(v−128) for the very FIRST block of each
                # component, 0 for every later block (solid color ⇒ the
                # per-component predictor carries the value forward)
                diff = 0 if emitted[ci] else 8 * (vals[ci] - 128)
                emitted[ci] = True
                _write_dc(w, dc_inv, diff)
                ln, code = ac_inv[0x00]  # EOB
                w.write(code, ln)
    out += w.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_blocks(width: int, height: int, blocks: list[list[int]]) -> bytes:
    """GRAYSCALE baseline JPEG from hand-chosen QUANTIZED coefficient
    blocks (zigzag order, one 64-list per 8x8 block, row-major block
    order).  The golden-anchor generator: a test picks coefficients,
    computes expected pixels with an INDEPENDENT IDCT, and asserts the
    decoder's Huffman/dequant/zigzag/IDCT pipeline reproduces them —
    never a circular encode↔decode.  Every quantizer step is 1."""
    q = [1] * 64
    bx = (width + 7) // 8
    by = (height + 7) // 8
    if len(blocks) != bx * by:
        raise ValueError(f"need {bx * by} blocks, got {len(blocks)}")
    out = bytearray(b"\xff\xd8")
    out += _dqt_segment(0, q)
    sof = bytes([8]) + struct.pack(">HH", height, width) + bytes([1, 1, 0x11, 0])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, STD_DC_LUM)
    out += _dht_segment(1, 0, STD_AC_LUM)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    dc_inv = _encode_lengths(_build_huffman(*STD_DC_LUM))
    ac_inv = _encode_lengths(_build_huffman(*STD_AC_LUM))
    w = _BitWriter()
    pred = 0
    for blk in blocks:
        _write_dc(w, dc_inv, blk[0] - pred)
        pred = blk[0]
        # AC run-length coding, zigzag positions 1..63
        run = 0
        for k in range(1, 64):
            v = blk[k]
            if v == 0:
                run += 1
                continue
            while run > 15:
                ln, code = ac_inv[0xF0]  # ZRL
                w.write(code, ln)
                run -= 16
            s = _category(v)
            ln, code = ac_inv[(run << 4) | s]
            w.write(code, ln)
            w.write(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if run:
            ln, code = ac_inv[0x00]  # EOB
            w.write(code, ln)
    out += w.flush()
    out += b"\xff\xd9"
    return bytes(out)


#: :func:`encode_jpeg_progressive`'s restart interval in blocks (0 = no
#: DRI/RSTn markers)
_PROGRESSIVE_RESTART_INTERVAL = 0


def encode_jpeg_progressive(
    width: int,
    height: int,
    blocks: list[list[int]],
    qtable: list[int] | None = None,
) -> bytes:
    """GRAYSCALE progressive (SOF2) JPEG from hand-chosen QUANTIZED
    coefficient blocks — the same input convention as
    :func:`encode_jpeg_blocks` (zigzag order, row-major blocks) — coded
    as FOUR scans exercising BOTH progressive mechanisms of T.81 §G:

    1. DC first, ``Al=1`` (diff-coded, point-transformed);
    2. DC refinement, ``Ah=1 → Al=0`` (one raw bit per block);
    3. AC spectral band 1–63 first, ``Al=1`` (run-length over the
       magnitude-halved values, per-block EOB);
    4. AC refinement, ``Ah=1 → Al=0`` (newly-nonzero ±1 coefficients
       with interleaved correction bits, the libjpeg BR-buffer dance).

    A fully-refined progressive file must decode bit-identically to the
    same blocks through :func:`encode_jpeg_blocks` (pinned in tests —
    the decoder is additionally anchored against independently-IDCT'd
    pixels, never a circular encode↔decode).  A nonzero
    ``_PROGRESSIVE_RESTART_INTERVAL`` emits DRI + RSTn markers every N
    blocks in every scan.  Fixture grade: tests and planted oracle arms,
    not a production encoder."""
    q = qtable or [1] * 64
    restart_interval = _PROGRESSIVE_RESTART_INTERVAL
    bx = (width + 7) // 8
    by = (height + 7) // 8
    if len(blocks) != bx * by:
        raise ValueError(f"need {bx * by} blocks, got {len(blocks)}")
    out = bytearray(b"\xff\xd8")
    out += _dqt_segment(0, q)
    sof = bytes([8]) + struct.pack(">HH", height, width) + bytes([1, 1, 0x11, 0])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, STD_DC_LUM)
    out += _dht_segment(1, 0, STD_AC_LUM)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    dc_inv = _encode_lengths(_build_huffman(*STD_DC_LUM))
    ac_inv = _encode_lengths(_build_huffman(*STD_AC_LUM))

    def sos_header(ss, se, ah, al):
        sos = bytes([1, 1, 0x00, ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    def entropy(scan_fn):
        w = _BitWriter()
        data = bytearray()
        state = {"pred": 0}
        rst = 0
        for i, blk in enumerate(blocks):
            if restart_interval and i and i % restart_interval == 0:
                data += w.flush()
                data += bytes([0xFF, 0xD0 + rst % 8])
                rst += 1
                w = _BitWriter()
                state["pred"] = 0
            scan_fn(w, blk, state)
        data += w.flush()
        return bytes(data)

    def dc_first(w, blk, st):
        v = blk[0] >> 1  # arithmetic shift = the T.81 DC point transform
        _write_dc(w, dc_inv, v - st["pred"])
        st["pred"] = v

    def dc_refine(w, blk, st):
        w.write(blk[0] & 1, 1)

    def ac_first(w, blk, st):
        run = 0
        for k in range(1, 64):
            v = blk[k]
            # AC point transform truncates the MAGNITUDE toward zero
            v1 = (abs(v) >> 1) * (1 if v >= 0 else -1)
            if v1 == 0:
                run += 1
                continue
            while run > 15:
                ln, code = ac_inv[0xF0]
                w.write(code, ln)
                run -= 16
            s = _category(v1)
            ln, code = ac_inv[(run << 4) | s]
            w.write(code, ln)
            w.write(v1 if v1 >= 0 else v1 + (1 << s) - 1, s)
            run = 0
        if run:
            ln, code = ac_inv[0x00]  # EOB (eobrun = 1)
            w.write(code, ln)

    def ac_refine(w, blk, st):
        # the libjpeg encode_mcu_AC_refine shape: run counts ZERO-HISTORY
        # positions only; correction bits for nonzero-history positions
        # buffer in BR and flush after every emitted symbol, so the
        # decoder's interleaved walk consumes them in k order; ZRLs fire
        # at ANY nonzero position once run exceeds 15, so BR never spans
        # a 16-zero boundary
        run = 0
        br: list[int] = []

        def flush_br():
            for b in br:
                w.write(b, 1)
            br.clear()

        for k in range(1, 64):
            t = abs(blk[k])
            if t == 0:
                run += 1
                continue
            while run > 15:
                ln, code = ac_inv[0xF0]
                w.write(code, ln)
                flush_br()
                run -= 16
            if t > 1:  # previously nonzero: one correction bit, buffered
                br.append(t & 1)
                continue
            # newly nonzero (|v| == 1): run-length + sign + corrections
            ln, code = ac_inv[(run << 4) | 1]
            w.write(code, ln)
            w.write(1 if blk[k] > 0 else 0, 1)
            flush_br()
            run = 0
        if run or br:
            ln, code = ac_inv[0x00]  # EOB folds the tail
            w.write(code, ln)
            flush_br()

    for (ss, se, ah, al), fn in (
        ((0, 0, 0, 1), dc_first),
        ((0, 0, 1, 0), dc_refine),
        ((1, 63, 0, 1), ac_first),
        ((1, 63, 1, 0), ac_refine),
    ):
        out += sos_header(ss, se, ah, al)
        out += entropy(fn)
    out += b"\xff\xd9"
    return bytes(out)

"""Baseline JPEG codec — REAL entropy-coded decode/encode, pure numpy +
stdlib, no codec library.

This closes the biggest remaining real-codec gap vs the reference, whose
flagship format is JPEG (parser /root/reference/src/parsers/jpeg.cpp;
CPU decode path extensions/opencv/opencv_decoder.cpp:104; GPU nvjpeg
extension). Everything here is implemented from the public ITU-T T.81
(ISO/IEC 10918-1) spec:

- Markers: SOI / DQT (§B.2.4.1) / SOF0 (§B.2.2) / DHT (§B.2.4.2) /
  SOS (§B.2.3) / EOI; 0xFF byte-stuffing in the entropy stream (§B.1.1.5).
- Huffman tables: the "typical" Annex K.3 DC/AC luminance + chrominance
  tables (the ones every libjpeg-compatible encoder ships).
- Quantization: Annex K.1 example tables, IJG quality scaling
  (quality>=50 → scale=200-2q), with deterministic round-half-up
  quantization so a DuckDB oracle can reproduce the arithmetic exactly.
- Coefficient coding: DC differential + magnitude categories with EXTEND
  (§F.2.2.1), AC run/size with ZRL and EOB (§F.2.2.2), zigzag (§A.3.6).
- 8x8 forward/inverse DCT (§A.3.3) as exact float tensor contractions,
  vectorized across all blocks of an image at once.

Supported subset: baseline sequential (SOF0/SOF1) and PROGRESSIVE
(SOF2, Annex G Huffman — spectral selection + successive approximation,
DC/AC first + refinement scans with EOB-run coding; pinned bit-exact
against the JDK ImageIO writer's 10-scan script in tests), 8-bit,
grayscale and YCbCr color with 4:4:4 / 4:2:0 / 4:2:2 / 4:4:0 sampling.
Restart intervals (DRI + RSTn byte-aligned boundaries, predictor reset)
are read AND written on the baseline path — the seam camera encoders
emit and GPU decoders parallelize on. The decoder raises ValueError
(dead-letter) for arithmetic/hierarchical/12-bit streams (and DRI inside
progressive scans), mirroring the reference's CAN_DECODE
probe rejecting unsupported streams
(/root/reference/src/parsers/jpeg.cpp getImageInfo + capability checks).
The progressive ENCODER (``encode_jpeg_progressive``) emits the simple
spectral-selection script (DC scan + one full-band AC scan per
component), producing coefficients identical to the baseline encoding —
so progressive decode output is comparable coefficient-for-coefficient.

Scale shape: per-file-independent Arrow-batched ``mapInPandas`` (no
shuffle); the DCT/dequant stages are numpy tensor ops over all blocks of
an image simultaneously. The entropy bitstream walk is sequential per
SEGMENT: restart intervals are the parallel seam a GPU implementation
splits on, and ``decode_jpeg_distributed`` makes that seam real here —
one huge restart-interval image fans out as Spark tasks (driver reads
header + boundary offsets only; each task decodes its inter-restart MCU
range independently and ships back int16 coefficients), bit-identical
to the single-task decode.
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = [
    "ZIGZAG",
    "quant_table",
    "encode_jpeg",
    "encode_jpeg_progressive",
    "decode_jpeg",
    "decode_jpeg_distributed",
    "plan_jpeg_restart_segments",
    "attach_jpegs",
    "decode_jpegs",
    "jpeg_block_stats",
]

# ----------------------------------------------------------- spec tables

#: §A.3.6 zigzag order: ZIGZAG[i] = (row, col) of the i-th coefficient.
_ZZ_ORDER = []
for s in range(15):
    rng = range(max(0, s - 7), min(s, 7) + 1)
    _ZZ_ORDER.extend([(j, s - j) for j in rng] if s % 2 else [(s - j, j) for j in rng])
ZIGZAG = np.array([r * 8 + c for r, c in _ZZ_ORDER], dtype=np.int64)
_UNZIGZAG = np.argsort(ZIGZAG)

#: Annex K.1 example quantization tables (natural/raster order).
_Q_LUM_BASE = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_Q_CHROM_BASE = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

#: Annex K.3 "typical" Huffman tables as (bits[1..16], huffval).
_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROM = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

#: §A.3.3 DCT basis: _COS[u, x] = C(u)/2 * cos((2x+1)u*pi/16).
_COS = np.zeros((8, 8))
for u in range(8):
    cu = (1.0 / np.sqrt(2.0)) if u == 0 else 1.0
    for x in range(8):
        _COS[u, x] = 0.5 * cu * np.cos((2 * x + 1) * u * np.pi / 16.0)


def quant_table(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling of an Annex K base table (natural order)."""
    if not 1 <= quality <= 100:
        raise ValueError("quality in 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255)


def _round_half_up(x: np.ndarray) -> np.ndarray:
    """floor(x + 0.5): deterministic, SQL-reproducible (FLOOR(x + 0.5)),
    unlike numpy's banker's rounding."""
    return np.floor(x + 0.5).astype(np.int64)


# ------------------------------------------------------------ Huffman


def _code_assign(bits, huffval):
    """§C.2 code assignment: (symbol → (code, length)) and the decode
    map ((length, code) → symbol)."""
    enc, dec = {}, {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = huffval[k]
            enc[sym] = (code, length)
            dec[(length, code)] = sym
            code += 1
            k += 1
        code <<= 1
    return enc, dec


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # §B.1.1.5 byte stuffing
        # drop flushed high bits: without this the accumulator grows by
        # 8 bits per emitted byte and entropy coding turns O(n^2)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1-bits (§F.1.2.3)
        return bytes(self.out)

    def restart(self, n: int) -> None:
        """Byte-align (1-bit pad) and emit RSTn — §B.2.1.2 restart
        boundary. The caller resets its DC predictors."""
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (n & 7)])


class _BitReader:
    """Entropy-stream bit reader with 0xFF00 de-stuffing.

    ``stop_at_markers=True`` (progressive scans): ANY real marker ends the
    entropy segment — the reader pads with zero bits and leaves ``pos``
    pointing at the marker's 0xFF so the caller can resume the marker
    walk there. Baseline keeps the strict behavior (only EOI pads;
    anything else is stream corruption). The pad only feeds look-ahead:
    a decode that CONSUMES a pad bit ran out of entropy data before its
    last MCU (a truncated scan) and raises instead of zero-filling."""

    def __init__(
        self,
        b: bytes,
        pos: int,
        stop_at_markers: bool = False,
        allow_restarts: bool = False,
    ):
        self.b = b
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.pad = 0  # trailing zero bits of acc that are not stream data
        self.stop_at_markers = stop_at_markers
        self.allow_restarts = allow_restarts

    def _fill(self):
        while self.nbits <= 24:
            if self.pos >= len(self.b):
                raise ValueError("truncated entropy stream")
            byte = self.b[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.b):
                    raise ValueError("truncated after 0xFF")
                marker = self.b[self.pos]
                if marker == 0x00:
                    self.pos += 1
                elif (
                    marker == 0xD9
                    or (0xD0 <= marker <= 0xD7 and self.allow_restarts)
                    or self.stop_at_markers
                ):
                    # An RSTn in a stream with NO restart interval is
                    # corruption, not a boundary — only pad past it when
                    # the frame declared DRI (review-caught: tolerating
                    # it unconditionally silently zero-decoded the rest
                    # of a DRI-stripped stream)
                    # EOI / RSTn reached while pre-buffering: pad zeros and
                    # leave pos at the 0xFF — restart() (or the caller's
                    # marker walk) consumes the marker itself
                    self.pos -= 1
                    self.acc <<= 8
                    self.nbits += 8
                    self.pad += 8
                    continue
                else:
                    raise ValueError(f"unexpected marker FF{marker:02X} in scan")
            self.acc = (self.acc << 8) | byte
            self.nbits += 8

    def restart(self, n: int) -> None:
        """Consume an RSTn boundary: discard pad bits, verify the marker
        sequence number, resume byte-aligned after it (§E.2.4)."""
        self.acc = 0
        self.nbits = 0
        self.pad = 0
        if self.pos + 2 > len(self.b) or self.b[self.pos] != 0xFF:
            raise ValueError("expected restart marker")
        m = self.b[self.pos + 1]
        if m != 0xD0 + (n & 7):
            raise ValueError(f"restart marker out of sequence: FF{m:02X}")
        self.pos += 2

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
        self.nbits -= n
        if self.nbits < self.pad:
            raise ValueError("entropy data ended before the scan's last MCU")
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        # drop consumed high bits — keeps the accumulator word-sized so a
        # multi-MB scan decodes in O(n), not O(n^2) big-int work
        self.acc &= (1 << self.nbits) - 1
        return v

    def huff(self, dec: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bits(1)
            sym = dec.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """§F.2.2.1 EXTEND: map t-bit magnitude to signed value."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


# ------------------------------------------------------------ encoder


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _dht_body(tc: int, th: int, table) -> bytes:
    bits, huffval = table
    return bytes([tc << 4 | th]) + bytes(bits) + bytes(huffval)


def _fdct_blocks(blocks: np.ndarray) -> np.ndarray:
    """Forward DCT of N 8x8 blocks at once: C @ B @ C.T per block."""
    return np.einsum("ux,nxy,vy->nuv", _COS, blocks, _COS, optimize=True)


def _idct_blocks(coef: np.ndarray) -> np.ndarray:
    """Inverse DCT of N 8x8 coefficient blocks (exact transpose pair)."""
    return np.einsum("ux,nuv,vy->nxy", _COS, coef, _COS, optimize=True)


def _to_blocks(ch: np.ndarray) -> np.ndarray:
    """H×W (multiples of 8) → (N, 8, 8) in MCU raster order."""
    h, w = ch.shape
    return (
        ch.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _from_blocks(blocks: np.ndarray, h: int, w: int) -> np.ndarray:
    return (
        blocks.reshape(h // 8, w // 8, 8, 8).transpose(0, 2, 1, 3).reshape(h, w)
    )


def _emit_dc(bw: _BitWriter, blk, dc_enc, pred: int) -> int:
    """DC differential + category emission for one block; returns the
    new predictor."""
    diff = int(blk[0]) - pred
    t = _category(diff)
    code, ln = dc_enc[t]
    bw.put(code, ln)
    if t:
        bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
    return int(blk[0])


def _emit_ac_band(bw: _BitWriter, blk, ac_enc) -> None:
    """AC 1..63 run/size emission with ZRL + trailing EOB for one block —
    baseline AC semantics, which is ALSO each progressive full-band AC
    scan's per-block coding (the trailing EOB being an EOB0 run)."""
    run = 0
    nz = np.nonzero(blk[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(blk[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_enc[0xF0]  # ZRL
            bw.put(code, ln)
            run -= 16
        t = _category(v)
        code, ln = ac_enc[run << 4 | t]
        bw.put(code, ln)
        bw.put(v if v >= 0 else v + (1 << t) - 1, t)
        run = 0
    if last < 63:
        code, ln = ac_enc[0x00]  # EOB
        bw.put(code, ln)


def _encode_channel_coefs(qcoef: np.ndarray, bw: _BitWriter, dc_enc, ac_enc, pred: int) -> int:
    """Huffman-encode quantized zigzag coefficients (N, 64)."""
    for blk in qcoef:
        pred = _emit_dc(bw, blk, dc_enc, pred)
        _emit_ac_band(bw, blk, ac_enc)
    return pred


def _mcu_block_order(ncomp, factors, nmx, nmy):
    """§A.2.3 interleaved MCU order: yields (comp, plane_block_index)
    across the whole scan. ``factors[c] = (hc, vc)``; a component's plane
    has nmx*hc blocks per row."""
    for my in range(nmy):
        for mx in range(nmx):
            for c in range(ncomp):
                hc, vc = factors[c]
                for dy in range(vc):
                    for dx in range(hc):
                        yield c, (my * vc + dy) * (nmx * hc) + mx * hc + dx


def _encode_setup(arr, quality, subsampling):
    """Shared front half of both encoders: validate, edge-pad to whole
    MCUs (SOF keeps the true dims), YCbCr convert + chroma box-average,
    forward-DCT + quantize. Returns
    (h, w, hp, wp, ncomp, factors, qtabs, qcoefs) — qcoefs[c] is the
    component's PADDED plane, row-major, zigzag order."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ncomp = arr.shape
    if ncomp not in (1, 3):
        raise ValueError("1 or 3 channels")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    sub = subsampling == "420" and ncomp == 3
    mod = 16 if sub else 8
    hp, wp = -(-h // mod) * mod, -(-w // mod) * mod
    if (hp, wp) != (h, w):  # edge-replicate to whole MCUs; SOF keeps h,w
        arr = np.pad(arr, ((0, hp - h), (0, wp - w), (0, 0)), mode="edge")
    a = arr.astype(np.float64)
    if ncomp == 3:
        r, g, b = a[:, :, 0], a[:, :, 1], a[:, :, 2]
        channels = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
        if sub:  # 2x2 box average of the chroma planes
            channels[1:] = [
                ch.reshape(hp // 2, 2, wp // 2, 2).mean(axis=(1, 3))
                for ch in channels[1:]
            ]
    else:
        channels = [a[:, :, 0]]
    factors = [(2, 2), (1, 1), (1, 1)] if sub else [(1, 1)] * ncomp
    qtabs = [quant_table(_Q_LUM_BASE, quality)]
    if ncomp == 3:
        qtabs.append(quant_table(_Q_CHROM_BASE, quality))
    qcoefs = []
    for c, ch in enumerate(channels):
        qt = qtabs[0] if c == 0 else qtabs[1]
        coef = _fdct_blocks(_to_blocks(ch - 128.0))
        q = np.sign(coef) * np.floor(np.abs(coef) / qt.reshape(8, 8) + 0.5)
        qcoefs.append(q.astype(np.int64).reshape(-1, 64)[:, ZIGZAG])
    return h, w, hp, wp, ncomp, factors, qtabs, qcoefs


def _encode_headers(h, w, ncomp, factors, qtabs, sof_marker):
    """SOI + DQT + SOF(sof_marker) + the Annex K DHTs."""
    out = bytearray(b"\xff\xd8")
    for tq, qt in enumerate(qtabs):
        out += _seg(0xDB, bytes([tq]) + bytes(int(x) for x in qt[ZIGZAG]))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for c in range(ncomp):
        hc, vc = factors[c]
        sof += bytes([c + 1, hc << 4 | vc, 0 if c == 0 else 1])
    out += _seg(sof_marker, sof)
    out += _seg(0xC4, _dht_body(0, 0, _DC_LUM))
    out += _seg(0xC4, _dht_body(1, 0, _AC_LUM))
    if ncomp == 3:
        out += _seg(0xC4, _dht_body(0, 1, _DC_CHROM))
        out += _seg(0xC4, _dht_body(1, 1, _AC_CHROM))
    return out


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 75,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Baseline sequential JPEG encode of H×W (gray) or H×W×3 (RGB →
    YCbCr) uint8. ``subsampling``: "444" or "420"
    (2x2 box-averaged chroma — the layout virtually every camera/web
    JPEG uses). Any dimensions: edges replicate to whole MCUs and the
    decoder pad-crops back. ``restart_interval`` N > 0 emits DRI +
    an RSTn boundary every N MCUs (byte-aligned, DC predictors reset) —
    the seam camera encoders emit and GPU decoders parallelize on."""
    h, w, hp, wp, ncomp, factors, qtabs, qcoefs = _encode_setup(
        arr, quality, subsampling
    )
    out = _encode_headers(h, w, ncomp, factors, qtabs, 0xC0)
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for c in range(ncomp):
        sos += bytes([c + 1, 0x00 if c == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)

    dc_lum_enc, _ = _code_assign(*_DC_LUM)
    ac_lum_enc, _ = _code_assign(*_AC_LUM)
    dc_chrom_enc, _ = _code_assign(*_DC_CHROM)
    ac_chrom_enc, _ = _code_assign(*_AC_CHROM)

    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    nmx, nmy = wp // (8 * hmax), hp // (8 * vmax)
    bw = _BitWriter()
    preds = [0] * ncomp
    bpm = sum(hc * vc for (hc, vc) in factors)  # blocks per MCU
    rst = 0
    for j, (c, i) in enumerate(_mcu_block_order(ncomp, factors, nmx, nmy)):
        if restart_interval and j and j % (bpm * restart_interval) == 0:
            bw.restart(rst)
            rst = (rst + 1) & 7
            preds = [0] * ncomp
        dc_enc = dc_lum_enc if c == 0 else dc_chrom_enc
        ac_enc = ac_lum_enc if c == 0 else ac_chrom_enc
        preds[c] = _encode_channel_coefs(
            qcoefs[c][i : i + 1], bw, dc_enc, ac_enc, preds[c]
        )
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ------------------------------------------------------------ decoder


def decode_jpeg(b: bytes) -> np.ndarray:
    """Full JPEG decode → H×W (gray) or H×W×3 (RGB) uint8: baseline
    (SOF0/SOF1) and PROGRESSIVE (SOF2 — spectral selection + successive
    approximation, DC and AC first/refinement scans with EOB runs, the
    libjpeg 10-scan script included). Handles 4:4:4, 4:2:0, 4:2:2 and
    4:4:0 interleaved chroma sampling (nearest-neighbor upsample),
    restart intervals, and arbitrary (non-MCU-multiple) dimensions via
    pad-crop. Raises ValueError on anything outside the supported
    subset (arithmetic, hierarchical, 12-bit, truncated)."""
    try:
        return _decode_jpeg_inner(bytes(b))
    except IndexError as e:
        # unguarded segment-body reads on malformed markers surface as
        # IndexError; the public contract is ValueError = dead-letter
        raise ValueError(f"malformed marker segment: {e}")


def _decode_jpeg_inner(b: bytes) -> np.ndarray:
    (qtabs, huff_dec, frame, progressive, prog, scan_comps,
     restart_interval, pos) = _walk_markers(b)
    if progressive:
        if frame is None or prog is None:
            raise ValueError("missing SOF2 scan data")
        h, w, comps = frame
        return _reconstruct(
            h, w, comps, prog["qcoef"], qtabs, prog["nmx"], prog["nmy"]
        )
    if frame is None or scan_comps is None:
        raise ValueError("missing SOF0/SOS")
    h, w, comps = frame
    ncomp = len(comps)
    if ncomp not in (1, 3) or len(scan_comps) != ncomp:
        raise ValueError("1 or 3 interleaved components only")
    factors = [(hc, vc) for (_, _, hc, vc) in comps]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    # pad-crop: encoders emit whole MCUs; planes decode padded and the
    # final image crops to (h, w) — real-world JPEGs are rarely multiples
    nmx = -(-w // (8 * hmax))
    nmy = -(-h // (8 * vmax))
    nblocks = [nmx * hc * nmy * vc for (hc, vc) in factors]
    qcoef = [np.zeros((n, 64), dtype=np.int64) for n in nblocks]
    _decode_baseline_range(
        b, pos, factors, nmx, nmy, scan_comps, huff_dec,
        restart_interval, qcoef, 0, nmx * nmy,
    )
    return _reconstruct(h, w, comps, qcoef, qtabs, nmx, nmy)


def _walk_markers(b: bytes):
    """Marker walk to the first baseline SOS (or through every
    progressive scan): returns (qtabs, huff_dec, frame, progressive,
    prog_state, scan_comps, restart_interval, entropy_pos)."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qtabs: dict = {}
    huff_dec: dict = {}
    frame = None
    progressive = False
    prog: dict | None = None  # progressive accumulation state
    scan_comps = None
    restart_interval = 0
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError(f"marker sync lost at {pos}")
        while pos + 2 < len(b) and b[pos + 1] == 0xFF:
            pos += 1  # optional fill bytes before a marker
        marker = b[pos + 1]
        if marker == 0xD9:
            if prog is not None:
                break  # progressive: EOI after the last scan
            raise ValueError("EOI before SOS")
        if pos + 4 > len(b):
            break
        (seglen,) = struct.unpack_from(">H", b, pos + 2)
        body = b[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                vals = np.frombuffer(body[p + 1 : p + 65], dtype=np.uint8)
                if len(vals) != 64:
                    raise ValueError("short DQT")
                nat = np.zeros(64, dtype=np.int64)
                nat[ZIGZAG] = vals
                qtabs[tq] = nat.reshape(8, 8)
                p += 65
        elif marker == 0xC4:
            p = 0
            while p + 17 <= len(body):
                tc, th = body[p] >> 4, body[p] & 0xF
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                huffval = list(body[p + 17 : p + 17 + n])
                if len(huffval) != n:
                    raise ValueError("short DHT")
                _, dec = _code_assign(bits, huffval)
                huff_dec[(tc, th)] = dec
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):
            prec, h, w, nc = body[0], *struct.unpack_from(">HH", body, 1), body[5]
            if prec != 8:
                raise ValueError("only 8-bit precision")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                hc, vc = hv >> 4, hv & 0xF
                if hc not in (1, 2) or vc not in (1, 2):
                    raise ValueError(f"sampling factors {hc}x{vc} unsupported")
                comps.append((cid, tq, hc, vc))
            frame = (h, w, comps)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("non-baseline SOF unsupported")
        elif marker == 0xDD:
            if len(body) < 2:
                raise ValueError("short DRI")
            restart_interval = struct.unpack_from(">H", body)[0]
        elif marker == 0xDA:
            if not progressive:
                ns = body[0]
                scan_comps = [(body[1 + 2 * i], body[2 + 2 * i]) for i in range(ns)]
                break
            if frame is None:
                raise ValueError("SOS before SOF")
            if restart_interval:
                raise ValueError("restart intervals in progressive scans unsupported")
            prog, pos = _decode_prog_scan(b, pos, body, frame, qtabs, huff_dec, prog)
        # APPn / COM / others: skipped
    return (qtabs, huff_dec, frame, progressive, prog, scan_comps,
            restart_interval, pos)


def _decode_baseline_range(
    b, pos, factors, nmx, nmy, scan_comps, huff_dec,
    restart_interval, qcoef, mcu_lo, mcu_hi, rst_seq=None,
):
    """Decode MCUs [mcu_lo, mcu_hi) of a baseline interleaved scan whose
    entropy data begins at ``pos`` with FRESH DC predictors — true at
    scan start and immediately after any RSTn boundary, which is exactly
    what makes restart intervals the parallel seam: each inter-restart
    segment decodes independently of every other (the GPU decoders'
    strategy, and :func:`decode_jpeg_distributed`'s unit of work).
    Fills ``qcoef`` in place at GLOBAL block indices."""
    ncomp = len(factors)
    br = _BitReader(b, pos, allow_restarts=restart_interval > 0)
    preds = [0] * ncomp
    tables = []
    for c, (cid, tds) in enumerate(scan_comps):
        td, ta = tds >> 4, tds & 0xF
        try:
            tables.append((huff_dec[(0, td)], huff_dec[(1, ta)]))
        except KeyError:
            raise ValueError("scan references missing Huffman table")
    if rst_seq is None:
        rst_seq = (mcu_lo // restart_interval) & 7 if restart_interval else 0
    for m in range(mcu_lo, mcu_hi):
        if restart_interval and m != mcu_lo and m % restart_interval == 0:
            br.restart(rst_seq)
            rst_seq = (rst_seq + 1) & 7
            preds = [0] * ncomp
        my, mx = divmod(m, nmx)
        for c in range(ncomp):
            hc, vc = factors[c]
            dc_dec, ac_dec = tables[c]
            for dy in range(vc):
                for dx in range(hc):
                    i = (my * vc + dy) * (nmx * hc) + mx * hc + dx
                    t = br.huff(dc_dec)
                    if t > 11:
                        raise ValueError("invalid DC category")
                    preds[c] += _extend(br.bits(t), t)
                    qcoef[c][i, 0] = preds[c]
                    k = 1
                    while k < 64:
                        rs = br.huff(ac_dec)
                        if rs == 0x00:
                            break
                        if rs == 0xF0:
                            k += 16
                            continue
                        run, t = rs >> 4, rs & 0xF
                        k += run
                        if k > 63:
                            raise ValueError("AC run past block end")
                        qcoef[c][i, k] = _extend(br.bits(t), t)
                        k += 1


def _reconstruct(h, w, comps, qcoef, qtabs, nmx, nmy) -> np.ndarray:
    """Zigzag coefficient planes → pixels: dequantize, IDCT, upsample,
    color-convert (shared by the baseline and progressive paths)."""
    ncomp = len(comps)
    factors = [(hc, vc) for (_, _, hc, vc) in comps]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    channels = []
    for c, (cid, tq, hc, vc) in enumerate(comps):
        if tq not in qtabs:
            raise ValueError("component references missing quant table")
        nat = np.zeros((qcoef[c].shape[0], 64), dtype=np.int64)
        nat[:, ZIGZAG] = qcoef[c]
        deq = (nat * qtabs[tq].reshape(64)[None, :]).reshape(-1, 8, 8)
        pix = _idct_blocks(deq.astype(np.float64)) + 128.0
        plane = _from_blocks(pix, nmy * vc * 8, nmx * hc * 8)
        if hc != hmax or vc != vmax:  # nearest-neighbor chroma upsample
            plane = np.repeat(np.repeat(plane, vmax // vc, axis=0), hmax // hc, axis=1)
        channels.append(plane[:h, :w])  # pad-crop to the declared frame dims
    if ncomp == 1:
        out = channels[0]
        return np.clip(_round_half_up(out), 0, 255).astype(np.uint8)
    y, cb, cr = channels
    cb = cb - 128.0
    cr = cr - 128.0
    rgb = np.stack(
        [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
        axis=2,
    )
    return np.clip(_round_half_up(rgb), 0, 255).astype(np.uint8)


# ----------------------------------------------------- progressive scans


def _decode_prog_scan(b, pos, body, frame, qtabs, huff_dec, prog):
    """Decode ONE progressive (SOF2) scan's entropy segment starting at
    ``pos``; returns (updated prog state, position of the next marker).

    Implements Annex G Huffman progressive decoding in full: DC first /
    refinement (successive-approximation bit appends, two's-complement
    ``|=`` like the C reference implementations), AC first / refinement
    with EOB-run coding (EOBn symbols) and the correction-bit walk over
    nonzero-history coefficients. Reference analog: the progressive
    detection the parser performs (/root/reference/src/parsers/jpeg.cpp)
    paired with an actual decode."""
    h, w, comps = frame
    ncomp = len(comps)
    factors = [(hc, vc) for (_, _, hc, vc) in comps]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    nmx = -(-w // (8 * hmax))  # pad-crop: see decode_jpeg
    nmy = -(-h // (8 * vmax))
    if prog is None:
        prog = {
            "qcoef": [
                np.zeros((nmx * hc * nmy * vc, 64), dtype=np.int64)
                for (hc, vc) in factors
            ],
            "nmx": nmx,
            "nmy": nmy,
        }
    qcoef = prog["qcoef"]

    def true_block_order(ci):
        """§A.2.2 non-interleaved order: the component's REAL data units
        (ceil(comp_dim/8) per axis), skipping the MCU-padding dummy
        columns/rows of the padded row-major buffer."""
        hc, vc = factors[ci]
        cw = -(-w * hc // hmax)
        chh = -(-h * vc // vmax)
        bw_t, bh_t = -(-cw // 8), -(-chh // 8)
        bw_pad = nmx * hc
        return (by * bw_pad + bx for by in range(bh_t) for bx in range(bw_t))

    if not body or len(body) < 4 + 2 * body[0]:
        raise ValueError("short SOS header")
    ns = body[0]
    sel = [(body[1 + 2 * i], body[2 + 2 * i]) for i in range(ns)]
    ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0xF
    cidx = []
    for cid, tds in sel:
        matches = [i for i, (fcid, _, _, _) in enumerate(comps) if fcid == cid]
        if not matches:
            raise ValueError("scan references unknown component")
        cidx.append((matches[0], tds >> 4, tds & 0xF))

    br = _BitReader(b, pos, stop_at_markers=True)
    if ss == 0:  # ---- DC scan
        if se != 0:
            raise ValueError("DC scan with Se != 0")
        if ns > 1 and ns != ncomp:
            raise ValueError("partial interleaved DC scan unsupported")
        if ns > 1:
            order = _mcu_block_order(ncomp, factors, nmx, nmy)
            scan_of = {ci: s for s, (ci, _, _) in enumerate(cidx)}
        else:
            ci = cidx[0][0]
            order = ((ci, i) for i in true_block_order(ci))
            scan_of = {ci: 0}
        if ah == 0:  # first: diff-coded DC values, scaled by 2^Al
            preds = [0] * ns
            dctabs = {}
            for s, (ci, td, _) in enumerate(cidx):
                if (0, td) not in huff_dec:
                    raise ValueError("scan references missing Huffman table")
                dctabs[ci] = huff_dec[(0, td)]
            for ci, i in order:
                t = br.huff(dctabs[ci])
                if t > 11:
                    raise ValueError("invalid DC category")
                preds[scan_of[ci]] += _extend(br.bits(t), t)
                qcoef[ci][i, 0] = preds[scan_of[ci]] << al
        else:  # refinement: one bit per block (G.1.2.1)
            p1 = 1 << al
            for ci, i in order:
                if br.bits(1):
                    qcoef[ci][i, 0] |= p1
    else:  # ---- AC scan (always non-interleaved, one component)
        if ns != 1:
            raise ValueError("interleaved AC scan is illegal in progressive")
        ci, _, ta = cidx[0]
        if (1, ta) not in huff_dec:
            raise ValueError("scan references missing Huffman table")
        ac = huff_dec[(1, ta)]
        if se > 63 or ss > se:
            raise ValueError("bad spectral band")
        block_view = qcoef[ci]
        eobrun = 0
        p1, m1 = 1 << al, -1 << al
        if ah == 0:  # AC first scans (G.1.2.2): values scaled by 2^Al
            for i in true_block_order(ci):
                if eobrun > 0:
                    eobrun -= 1
                    continue
                blk = block_view[i]
                k = ss
                while k <= se:
                    rs = br.huff(ac)
                    r, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if r != 15:
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += br.bits(r)
                            break
                        k += 16  # ZRL
                        continue
                    k += r
                    if k > se:
                        raise ValueError("AC run past band end")
                    blk[k] = _extend(br.bits(s), s) << al
                    k += 1
        else:  # AC refinement (G.1.2.3 / jdphuff decode_mcu_AC_refine)
            for i in true_block_order(ci):
                blk = block_view[i]
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = br.huff(ac)
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r != 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += br.bits(r)
                                break
                            # r == 15: skip 16 zero-history coefficients
                            val = 0
                        else:
                            if s != 1:
                                raise ValueError("AC refine magnitude != 1")
                            val = p1 if br.bits(1) else m1
                        # advance, emitting correction bits for nonzero
                        # history coefficients along the way
                        while k <= se:
                            coef = blk[k]
                            if coef != 0:
                                if br.bits(1) and (coef & p1) == 0:
                                    blk[k] = coef + (p1 if coef >= 0 else m1)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val and k <= se:
                            blk[k] = val
                        k += 1
                if eobrun > 0:
                    # EOB region: only correction bits for nonzero history
                    while k <= se:
                        coef = blk[k]
                        if coef != 0:
                            if br.bits(1) and (coef & p1) == 0:
                                blk[k] = coef + (p1 if coef >= 0 else m1)
                        k += 1
                    eobrun -= 1

    # realign to the next marker: the reader stops AT the 0xFF of the
    # first real marker it meets; scan forward in case none was buffered
    pos = br.pos
    while pos + 1 < len(b) and not (
        b[pos] == 0xFF and b[pos + 1] not in (0x00,)
    ):
        pos += 1
    return prog, pos


def encode_jpeg_progressive(
    arr: np.ndarray, quality: int = 75, subsampling: str = "444"
) -> bytes:
    """PROGRESSIVE (SOF2) encode, spectral-selection script: one
    interleaved DC scan (Ss=0,Se=0,Ah=Al=0), then one full-band AC scan
    per component (Ss=1,Se=63,Ah=Al=0). Uses only EOB0 so the standard
    Annex K tables suffice; decoders see a fully legal progressive
    stream (the JDK's ImageIO reads these files — pinned in tests), and
    the coefficients are identical to the baseline encoding of the same
    image, so decode output matches decode(encode_jpeg(arr)) exactly.

    §A.2.2 asymmetry (review-caught): the interleaved DC scan covers the
    full MCU-padded grid INCLUDING dummy padding blocks, but each
    non-interleaved AC scan covers only the component's REAL data units
    (ceil(comp_dim/8) per axis) — emitting the padding blocks there
    would desynchronize every spec-compliant decoder on subsampled
    non-MCU-multiple images."""
    h, w, hp, wp, ncomp, factors, qtabs, qcoefs = _encode_setup(
        arr, quality, subsampling
    )
    out = _encode_headers(h, w, ncomp, factors, qtabs, 0xC2)

    dc_enc = [_code_assign(*(_DC_LUM if c == 0 else _DC_CHROM))[0] for c in range(ncomp)]
    ac_enc = [_code_assign(*(_AC_LUM if c == 0 else _AC_CHROM))[0] for c in range(ncomp)]

    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    nmx, nmy = wp // (8 * hmax), hp // (8 * vmax)

    # scan 1: DC, interleaved, full precision — MCU-padded traversal
    sos = bytes([ncomp])
    for c in range(ncomp):
        sos += bytes([c + 1, (0 if c == 0 else 1) << 4 | 0])
    sos += bytes([0, 0, 0])
    out += _seg(0xDA, sos)
    bw = _BitWriter()
    preds = [0] * ncomp
    for c, i in _mcu_block_order(ncomp, factors, nmx, nmy):
        preds[c] = _emit_dc(bw, qcoefs[c][i], dc_enc[c], preds[c])
    out += bw.flush()

    # scans 2..: AC 1-63 per component over the TRUE block grid
    for c in range(ncomp):
        out += _seg(0xDA, bytes([1, c + 1, (0 if c == 0 else 1)]) + bytes([1, 63, 0]))
        bw = _BitWriter()
        hc, vc = factors[c]
        cw = -(-(w * hc) // hmax)   # §A.1.1 component dims: ceil(dim*Hi/Hmax)
        chh = -(-(h * vc) // vmax)
        bw_t, bh_t = -(-cw // 8), -(-chh // 8)
        bw_pad = nmx * hc
        for by in range(bh_t):
            for bx in range(bw_t):
                _emit_ac_band(bw, qcoefs[c][by * bw_pad + bx], ac_enc[c])
        out += bw.flush()

    out += b"\xff\xd9"
    return bytes(out)


# ----------------------------------------- distributed single-image decode


def plan_jpeg_restart_segments(b: bytes):
    """Driver-side plan for ONE huge baseline JPEG: headers + RSTn
    boundary scan → per-segment work units ``(k, header_bytes,
    segment_bytes, mcu_lo, mcu_hi)``, or None when the stream has no
    restart interval (or is progressive) and must decode single-task.

    Restart markers are unambiguous at the byte level: inside entropy
    data every 0xFF is stuffed as FF 00, so a bare FF D0–D7 IS a
    boundary. Each inter-restart segment starts byte-aligned with fresh
    DC predictors, so segments decode independently — the same seam the
    reference's GPU decoder parallelizes on (nvjpeg batched decode), here
    re-expressed as Spark tasks (the read_ocf_split pattern applied to a
    code stream instead of a container)."""
    b = bytes(b)
    (qtabs, huff_dec, frame, progressive, prog, scan_comps,
     restart_interval, pos) = _walk_markers(b)
    if progressive or not restart_interval or frame is None or scan_comps is None:
        return None
    h, w, comps = frame
    factors = [(hc, vc) for (_, _, hc, vc) in comps]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    nmx = -(-w // (8 * hmax))
    nmy = -(-h // (8 * vmax))
    n_mcu = nmx * nmy
    bounds = []
    i = pos
    while i + 1 < len(b):
        if b[i] != 0xFF:
            i += 1
            continue
        m2 = b[i + 1]
        if m2 == 0x00:
            i += 2
            continue
        if 0xD0 <= m2 <= 0xD7:
            bounds.append(i)
            i += 2
            continue
        break  # EOI / next marker: entropy data ends here
    header = b[:pos]
    starts = [pos] + [q + 2 for q in bounds]
    ends = bounds + [i]
    segs = []
    for k, (s0, e0) in enumerate(zip(starts, ends)):
        lo = k * restart_interval
        if lo >= n_mcu:
            break
        hi = min(lo + restart_interval, n_mcu)
        segs.append((k, header, b[s0:e0], lo, hi))
    return segs


def _decode_segment(header: bytes, seg: bytes, lo: int, hi: int):
    """One segment's work: re-walk the (small) header, decode MCUs
    [lo, hi) from the segment's entropy bytes, return per-component
    (global_block_indices int64, coefficients int16 (n, 64) zigzag).
    The full-plane zero arrays are lazy (calloc) — only the segment's
    pages materialize."""
    (qtabs, huff_dec, frame, progressive, prog, scan_comps,
     restart_interval, pos) = _walk_markers(header)
    h, w, comps = frame
    factors = [(hc, vc) for (_, _, hc, vc) in comps]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    nmx = -(-w // (8 * hmax))
    nmy = -(-h // (8 * vmax))
    qcoef = [
        np.zeros((nmx * hc * nmy * vc, 64), dtype=np.int64)
        for (hc, vc) in factors
    ]
    # FFD9 tail gives the bit reader its end-of-data pad cushion
    _decode_baseline_range(
        seg + b"\xff\xd9", 0, factors, nmx, nmy, scan_comps, huff_dec,
        restart_interval, qcoef, lo, hi,
    )
    out = []
    for c, (hc, vc) in enumerate(factors):
        idxs = []
        for m in range(lo, hi):
            my, mx = divmod(m, nmx)
            for dy in range(vc):
                for dx in range(hc):
                    idxs.append((my * vc + dy) * (nmx * hc) + mx * hc + dx)
        ia = np.array(idxs, dtype=np.int64)
        out.append((ia, qcoef[c][ia].astype(np.int16)))
    return out


def decode_jpeg_distributed(spark, b: bytes, min_segments: int = 2) -> np.ndarray:
    """Decode ONE baseline restart-interval JPEG with SEGMENT-LEVEL
    parallelism: the driver reads only the header + boundary offsets;
    each Spark task gets the (small) header plus its own entropy
    segment, decodes its MCU range independently, and ships back
    quantized int16 coefficients; the driver assembles the planes and
    runs the shared dequant/IDCT/upsample. Streams without restarts (or
    progressive) fall back to the single-task :func:`decode_jpeg` —
    output is bit-identical either way (pinned in tests)."""
    from pyspark.sql import types as _T

    b = bytes(b)
    plan = plan_jpeg_restart_segments(b)
    if not plan or len(plan) < min_segments:
        return decode_jpeg(b)
    (qtabs, huff_dec, frame, _, _, scan_comps, restart_interval, pos) = _walk_markers(b)
    h, w, comps = frame
    factors = [(hc, vc) for (_, _, hc, vc) in comps]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    nmx = -(-w // (8 * hmax))
    nmy = -(-h // (8 * vmax))
    if plan[-1][4] < nmx * nmy:
        # the stream ends before its last restart segments: decoding what
        # is there would leave the missing MCUs zero-filled
        raise ValueError("entropy data ended before the scan's last MCU")

    seg_schema = _T.StructType([
        _T.StructField("k", _T.IntegerType()),
        _T.StructField("header", _T.BinaryType()),
        _T.StructField("seg", _T.BinaryType()),
        _T.StructField("lo", _T.IntegerType()),
        _T.StructField("hi", _T.IntegerType()),
    ])
    out_schema = _T.StructType([
        _T.StructField("k", _T.IntegerType()),
        _T.StructField("comp", _T.IntegerType()),
        _T.StructField("idxs", _T.BinaryType()),
        _T.StructField("coefs", _T.BinaryType()),
    ])

    def task(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                try:
                    parts = _decode_segment(
                        bytes(r.header), bytes(r.seg), int(r.lo), int(r.hi)
                    )
                except ValueError as e:
                    # comp -1 carries the error message back to the caller
                    rows.append((int(r.k), -1, str(e).encode(), b""))
                    continue
                for c, (ia, ca) in enumerate(parts):
                    rows.append((int(r.k), c, ia.tobytes(), ca.tobytes()))
            yield pd.DataFrame(rows, columns=["k", "comp", "idxs", "coefs"])

    sdf = spark.createDataFrame(plan, seg_schema).repartition(len(plan))
    collected = sdf.mapInPandas(task, out_schema).collect()

    qcoef = [
        np.zeros((nmx * hc * nmy * vc, 64), dtype=np.int64)
        for (hc, vc) in factors
    ]
    for row in collected:
        if row["comp"] < 0:
            raise ValueError(f"segment {row['k']}: {row['idxs'].decode()}")
        ia = np.frombuffer(row["idxs"], dtype=np.int64)
        ca = np.frombuffer(row["coefs"], dtype=np.int16).reshape(-1, 64)
        qcoef[row["comp"]][ia] = ca.astype(np.int64)
    return _reconstruct(h, w, comps, qcoef, qtabs, nmx, nmy)


# ------------------------------------------------------------ Spark tier


def attach_jpegs(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "jpeg",
    quality: int = 75,
    progressive: bool = False,
) -> DataFrame:
    """Deterministic grayscale-JPEG fixture generator: dims in blocks
    from the shared md5 formula (bw = hex[0:2]%6+2, bh = hex[2:4]%6+2
    blocks → 16..56 px), every 8x8 block constant with value
    (s + 5*bx + 9*by) % 256 — constant blocks make the lossy round trip
    EXACTLY reproducible in SQL (only the DC coefficient survives, and
    its quantization is closed-form; see jpeg_block_stats).
    ``progressive=True`` emits SOF2 multi-scan streams instead — same
    coefficients, so the same oracle contract holds."""
    import hashlib

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.BinaryType())]
    )
    enc = encode_jpeg_progressive if progressive else encode_jpeg

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for txt in pdf[text_col]:
                md5 = hashlib.md5(str(txt).encode("utf-8")).hexdigest()
                bw = int(md5[0:2], 16) % 6 + 2
                bh = int(md5[2:4], 16) % 6 + 2
                s = int(md5[4:6], 16)
                bx = np.arange(bw, dtype=np.int64)
                by = np.arange(bh, dtype=np.int64)
                vals = (s + 5 * bx[None, :] + 9 * by[:, None]) % 256
                img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype(
                    np.uint8
                )
                payloads.append(enc(img, quality=quality))
            out = pdf.copy()
            out[out_col] = payloads
            yield out

    return df.mapInPandas(batches, schema=out_schema)


_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("px_min", T.IntegerType()),
        T.StructField("px_max", T.IntegerType()),
        T.StructField("block_checksum", T.LongType()),
    ]
)


def decode_jpegs(
    df: DataFrame, binary_col: str = "jpeg", id_col: str = "doc_id"
) -> DataFrame:
    """Arrow-batched full JPEG decode → per-image pixel stats.
    block_checksum = Σ over 8x8 blocks of mean_value*(bx + 2*by + 1):
    order-sensitive across the block grid, so a transpose/shuffle bug
    cannot cancel out. Undecodable payloads dead-letter as NULL rows."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, payload in zip(pdf[id_col], pdf[binary_col]):
                try:
                    arr = decode_jpeg(bytes(payload))
                    h, w = arr.shape[:2]
                    a = arr.astype(np.int64)
                    if a.ndim == 2:
                        a = a[:, :, None]
                    # partial edge blocks (pad-cropped dims) average over
                    # their REAL pixels: zero-pad values + a count plane
                    h8, w8 = -(-h // 8) * 8, -(-w // 8) * 8
                    ap = np.zeros((h8, w8), dtype=np.int64)
                    ap[:h, :w] = a[:, :, 0]
                    cnt = np.zeros((h8, w8), dtype=np.int64)
                    cnt[:h, :w] = 1
                    bsum = ap.reshape(h8 // 8, 8, w8 // 8, 8).sum(axis=(1, 3))
                    bcnt = cnt.reshape(h8 // 8, 8, w8 // 8, 8).sum(axis=(1, 3))
                    bmean = bsum / bcnt
                    bx = np.arange(w8 // 8, dtype=np.int64)[None, :]
                    by = np.arange(h8 // 8, dtype=np.int64)[:, None]
                    row = (
                        int(did),
                        "jpeg",
                        w,
                        h,
                        int(a.sum()),
                        int(a.min()),
                        int(a.max()),
                        int(_round_half_up(bmean * (bx + 2 * by + 1)).sum()),
                    )
                except (ValueError, struct.error, IndexError):
                    # IndexError: unguarded body[...] reads on malformed
                    # marker segments must dead-letter, not fail the task
                    row = (int(did),) + (None,) * 7
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in _DECODE_SCHEMA.fields])

    return df.select(id_col, binary_col).mapInPandas(batches, schema=_DECODE_SCHEMA)


def jpeg_block_stats(quality: int = 75) -> dict:
    """Closed-form constant the oracle contract rests on: a constant 8x8
    block of value v has DC = 8*(v-128) and zero AC, so with q00 =
    quant_table(lum, quality)[0] dividing 8 (q00 = 8 at the default
    quality 75) the quantize→dequantize→IDCT chain reproduces v EXACTLY —
    the fixture family lives in the lossless subspace of a lossy codec,
    making a DuckDB oracle possible without a JPEG library."""
    return {"q00": int(quant_table(_Q_LUM_BASE, quality)[0])}

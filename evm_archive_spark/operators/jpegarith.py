"""Arithmetic-coded JPEG (ITU-T T.81 Annexes D/F/G) — from scratch.

JPEG's arithmetic entropy coding (the QM-coder) is the one T.81
option the common open-source decoders long rejected for patent
history, so real corpora contain files most pipelines cannot read.
This module implements both directions from the public spec:

- the **QM-coder**: a binary arithmetic coder over a 16-bit interval
  register with multiply-free subinterval splitting, conditional
  MPS/LPS exchange, renormalization-driven probability adaptation
  (Table D.3's 113-state estimator + the non-adapting equiprobable
  state), byte stuffing (0x00 after 0xFF) and carry/stack handling on
  the encode side (D.1.7), marker-terminated zero feeding on the
  decode side (F.2.2.5);
- the **DC model** (F.1.4.1 / F.2.4.1): per-component conditioning on
  the previous block's diff classified by the (L, U) thresholds into
  zero/small±/large± categories, magnitude-category unary chain
  (X1.. at bin 20), magnitude bits at +14;
- the **AC model** (F.1.4.2 / F.2.4.2): per-k EOB decision bins at
  3(k-1), significance chains, equiprobable sign, low/high-k
  magnitude-chain areas at bins 189/217 split by the Kx conditioning;
- **progressive scans** (G.1.3.2 / G.2): DC-first with point
  transform, DC-refinement (one equiprobable bit), AC-first bands,
  and AC-refinement with the previous-stage end-of-band index.

The state-transition table below is ITU-T T.81 Table D.3 (public
standard constants); it was transcribed from, and is pinned by a test
against, the system libjpeg's exported ``jpeg_aritab`` symbol.  The
whole codec is cross-checked BOTH directions against the system
libjpeg (tests/jpegarith_harness.c): libjpeg's arithmetic recoding of
a Huffman file must decode here to coefficient-identical pixels, and
libjpeg must decode this encoder's output back to the same samples.

Reference parity note: the reference repo (SummaryDev/evm-archive)
stores media as opaque bytea; this closes the "arithmetic JPEG" gap
in the multimodal lane's strict decode path (jpeg.py routes SOF9/
SOF10 frames here).  Placement is the codec boundary: per-payload
work inside mapInPandas Arrow batches.
"""

from __future__ import annotations

import struct

import numpy as np


class JpegArithError(Exception):
    """Malformed arithmetic-coded entropy data."""


# ITU-T T.81 Table D.3: (Qe, NLPS, NMPS, switch) per state; index 113
# is the non-adapting equiprobable state used for AC signs and
# progressive refinement bits.
QM_STATES: tuple[tuple[int, int, int, int], ...] = (
    (0x5A1D, 1, 1, 1), (0x2586, 14, 2, 0), (0x1114, 16, 3, 0),
    (0x080B, 18, 4, 0), (0x03D8, 20, 5, 0), (0x01DA, 23, 6, 0),
    (0x00E5, 25, 7, 0), (0x006F, 28, 8, 0), (0x0036, 30, 9, 0),
    (0x001A, 33, 10, 0), (0x000D, 35, 11, 0), (0x0006, 9, 12, 0),
    (0x0003, 10, 13, 0), (0x0001, 12, 13, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 36, 16, 0), (0x2CF2, 38, 17, 0), (0x207C, 39, 18, 0),
    (0x17B9, 40, 19, 0), (0x1182, 42, 20, 0), (0x0CEF, 43, 21, 0),
    (0x09A1, 45, 22, 0), (0x072F, 46, 23, 0), (0x055C, 48, 24, 0),
    (0x0406, 49, 25, 0), (0x0303, 51, 26, 0), (0x0240, 52, 27, 0),
    (0x01B1, 54, 28, 0), (0x0144, 56, 29, 0), (0x00F5, 57, 30, 0),
    (0x00B7, 59, 31, 0), (0x008A, 60, 32, 0), (0x0068, 62, 33, 0),
    (0x004E, 63, 34, 0), (0x003B, 32, 35, 0), (0x002C, 33, 9, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 64, 38, 0), (0x3A0D, 65, 39, 0),
    (0x2EF1, 67, 40, 0), (0x261F, 68, 41, 0), (0x1F33, 69, 42, 0),
    (0x19A8, 70, 43, 0), (0x1518, 72, 44, 0), (0x1177, 73, 45, 0),
    (0x0E74, 74, 46, 0), (0x0BFB, 75, 47, 0), (0x09F8, 77, 48, 0),
    (0x0861, 78, 49, 0), (0x0706, 79, 50, 0), (0x05CD, 48, 51, 0),
    (0x04DE, 50, 52, 0), (0x040F, 50, 53, 0), (0x0363, 51, 54, 0),
    (0x02D4, 52, 55, 0), (0x025C, 53, 56, 0), (0x01F8, 54, 57, 0),
    (0x01A4, 55, 58, 0), (0x0160, 56, 59, 0), (0x0125, 57, 60, 0),
    (0x00F6, 58, 61, 0), (0x00CB, 59, 62, 0), (0x00AB, 61, 63, 0),
    (0x008F, 61, 32, 0), (0x5B12, 65, 65, 1), (0x4D04, 80, 66, 0),
    (0x412C, 81, 67, 0), (0x37D8, 82, 68, 0), (0x2FE8, 83, 69, 0),
    (0x293C, 84, 70, 0), (0x2379, 86, 71, 0), (0x1EDF, 87, 72, 0),
    (0x1AA9, 87, 73, 0), (0x174E, 72, 74, 0), (0x1424, 72, 75, 0),
    (0x119C, 74, 76, 0), (0x0F6B, 74, 77, 0), (0x0D51, 75, 78, 0),
    (0x0BB6, 77, 79, 0), (0x0A40, 77, 48, 0), (0x5832, 80, 81, 1),
    (0x4D1C, 88, 82, 0), (0x438E, 89, 83, 0), (0x3BDD, 90, 84, 0),
    (0x34EE, 91, 85, 0), (0x2EAE, 92, 86, 0), (0x299A, 93, 87, 0),
    (0x2516, 86, 71, 0), (0x5570, 88, 89, 1), (0x4CA9, 95, 90, 0),
    (0x44D9, 96, 91, 0), (0x3E22, 97, 92, 0), (0x3824, 99, 93, 0),
    (0x32B4, 99, 94, 0), (0x2E17, 93, 86, 0), (0x56A8, 95, 96, 1),
    (0x4F46, 101, 97, 0), (0x47E5, 102, 98, 0), (0x41CF, 103, 99, 0),
    (0x3C3D, 104, 100, 0), (0x375E, 99, 93, 0), (0x5231, 105, 102, 0),
    (0x4C0F, 106, 103, 0), (0x4639, 107, 104, 0), (0x415E, 103, 99, 0),
    (0x5627, 105, 106, 1), (0x50E7, 108, 107, 0), (0x4B85, 109, 103, 0),
    (0x5597, 110, 109, 0), (0x504F, 111, 107, 0), (0x5A10, 110, 111, 1),
    (0x5522, 112, 109, 0), (0x59EB, 112, 111, 1), (0x5A1D, 113, 113, 0),
)

FIXED_BIN = 113          # equiprobable, never adapts (switch 0, self-links)

# statistics-area sizes (F.1.4.4.1.3 / F.1.4.4.2.1)
DC_STAT_BINS = 64
AC_STAT_BINS = 256

# natural (raster) position of each zig-zag index — kept local so the
# module stands alone; identical to jpeg.ZIGZAG
_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)


class _Stats:
    """One statistics area: per-bin (state index | MPS<<7) bytes."""

    __slots__ = ("b",)

    def __init__(self, n: int):
        self.b = bytearray(n)


def make_fixed_bin() -> _Stats:
    """A one-bin area pinned at the equiprobable state 113 — it
    self-links (NMPS = NLPS = 113, switch 0) so it never adapts.  It
    must be its OWN area: bin index 113 inside the AC area is a real
    adaptive bin (3*(38-1)+2)."""
    st = _Stats(1)
    st.b[0] = FIXED_BIN
    return st


class ArithDecoder:
    """T.81 F.2.2 decoder over one entropy-coded segment.

    ``data`` is the FULL jpeg byte string; decoding starts at ``pos``
    and stops feeding real bytes at the first marker (0xFF followed by
    a non-zero byte), after which zeros are supplied per F.2.2.5.
    ``pos`` afterwards points at the first unconsumed byte (the
    terminating marker's 0xFF once it has been reached)."""

    __slots__ = ("data", "pos", "end", "a", "c", "ct", "marker_hit")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.end = len(data)
        self.marker_hit = False
        # INITDEC: the first two data bytes form the 16-bit code
        # window (bits 16..31 of C); low half starts empty (CT = 0
        # forces a BYTEIN on the first renormalization)
        self.c = (self._byte() << 24) | (self._byte() << 16)
        self.ct = 0
        self.a = 0x10000

    def _byte(self) -> int:
        """Next entropy byte with the FF discipline: FF 00 is a
        stuffed literal FF; FF <marker> ends the feed (zeros after,
        marker left unconsumed); EOF acts like a marker."""
        if self.marker_hit:
            return 0
        if self.pos >= self.end:
            self.marker_hit = True
            return 0
        b = self.data[self.pos]
        if b != 0xFF:
            self.pos += 1
            return b
        if self.pos + 1 < self.end and self.data[self.pos + 1] == 0x00:
            self.pos += 2
            return 0xFF
        self.marker_hit = True
        return 0

    def decode(self, stats: _Stats, i: int) -> int:
        sv = stats.b[i]
        qe, nlps, nmps, switch = QM_STATES[sv & 0x7F]
        mps = sv >> 7
        self.a -= qe
        chigh = self.c >> 16
        if chigh < self.a:
            if self.a & 0x8000:
                return mps                       # short MPS path
            # renormalizing MPS region: conditional exchange
            if self.a < qe:
                bit = 1 - mps
                if switch:
                    mps = bit
                stats.b[i] = (mps << 7) | nlps
            else:
                bit = mps
                stats.b[i] = (mps << 7) | nmps
        else:
            self.c -= self.a << 16
            if self.a < qe:
                bit = mps                        # conditional exchange
                stats.b[i] = (mps << 7) | nmps
            else:
                bit = 1 - mps
                if switch:
                    mps = bit
                stats.b[i] = (mps << 7) | nlps
            self.a = qe
        # RENORMD
        a, c, ct = self.a, self.c, self.ct
        while a < 0x8000:
            if ct == 0:
                self.c = c
                c += self._byte() << 8
                ct = 8
            a <<= 1
            c = (c << 1) & 0xFFFFFFFF
            ct -= 1
        self.a, self.c, self.ct = a, c, ct
        return bit


class ArithEncoder:
    """T.81 D.1 encoder: interval register A (initially 0x10000),
    code register C with byte-out from bits 19..26, CT = 11, carry
    propagation through a stack of pending 0xFF bytes, and 0x00
    stuffing after every emitted 0xFF (D.1.7)."""

    __slots__ = ("a", "c", "ct", "buf", "sc", "out")

    def __init__(self):
        self.a = 0x10000
        self.c = 0
        self.ct = 11
        self.buf = -1           # last un-emitted byte (-1 = none yet)
        self.sc = 0             # count of pending 0xFF bytes
        self.out = bytearray()

    def _emit_raw(self, b: int) -> None:
        self.out.append(b)
        if b == 0xFF:
            self.out.append(0x00)              # byte stuffing

    def _byte_out(self) -> None:
        t = self.c >> 19
        if t > 0xFF:
            # carry: propagates into the pending byte; stacked 0xFFs
            # roll over to 0x00 (no stuffing needed — not 0xFF now)
            if self.buf < 0:
                raise JpegArithError("carry with no pending byte")
            self._emit_raw(self.buf + 1)
            for _ in range(self.sc):
                self.out.append(0x00)
            self.sc = 0
            self.buf = t & 0xFF
        elif t == 0xFF:
            self.sc += 1                       # may still receive carry
        else:
            if self.buf >= 0:
                self._emit_raw(self.buf)
            for _ in range(self.sc):
                self._emit_raw(0xFF)           # stuffs 0x00 after each
            self.sc = 0
            self.buf = t
        self.c &= 0x7FFFF
        self.ct = 8

    def encode(self, stats: _Stats, i: int, bit: int) -> None:
        sv = stats.b[i]
        qe, nlps, nmps, switch = QM_STATES[sv & 0x7F]
        mps = sv >> 7
        self.a -= qe
        if bit == mps:
            if self.a & 0x8000:
                return                          # short MPS path
            if self.a < qe:                     # conditional exchange
                self.c += self.a
                self.a = qe
            stats.b[i] = (mps << 7) | nmps
        else:
            if self.a < qe:                     # conditional exchange
                pass                            # LPS keeps the lower part
            else:
                self.c += self.a
                self.a = qe
            if switch:
                mps = bit
            stats.b[i] = (mps << 7) | nlps
        while self.a < 0x8000:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byte_out()

    def flush(self) -> bytes:
        """D.1.8 termination: pick the code value in the final
        interval with the most trailing zeros, drain the registers."""
        t = (self.a - 1 + self.c) & 0xFFFF0000
        self.c = t + 0x8000 if t < self.c else t
        self.c <<= self.ct
        if self.c & 0xF8000000:
            # carry out of the register into the pending byte
            if self.buf >= 0:
                self._emit_raw(self.buf + 1)
            for _ in range(self.sc):
                self.out.append(0x00)
        else:
            if self.buf >= 0:
                self._emit_raw(self.buf)
            for _ in range(self.sc):
                self._emit_raw(0xFF)
        self.buf = -1
        self.sc = 0
        self.c &= 0x07FFFFFF
        for shift in (19, 11):
            self._emit_raw((self.c >> shift) & 0xFF)
        # trailing 0x00 bytes are allowed but useless: T.81 D.1.8
        # permits discarding them (the decoder feeds zeros anyway)
        while self.out and self.out[-1] == 0x00 and (
                len(self.out) < 2 or self.out[-2] != 0xFF):
            self.out.pop()
        return bytes(self.out)


# --------------------------------------------------------------------------
# Statistical models (decode)
# --------------------------------------------------------------------------


class DcState:
    """Per-component DC state: predictor + previous-diff context."""

    __slots__ = ("pred", "ctx")

    def __init__(self):
        self.pred = 0
        self.ctx = 0


def decode_dc_diff(dec: ArithDecoder, st: _Stats, dstate: DcState,
                   lo: int, up: int) -> int:
    """F.2.4.1: one DC difference, updating the conditioning context
    classification from the decoded magnitude vs the (L, U)
    thresholds."""
    base = dstate.ctx
    if dec.decode(st, base) == 0:
        dstate.ctx = 0
        return 0
    sign = dec.decode(st, base + 1)
    m = dec.decode(st, base + 2 + sign)
    pos = base + 2 + sign
    if m:
        pos = 20                               # X1 (Table F.4)
        while dec.decode(st, pos):
            m <<= 1
            if m == 0x8000:
                raise JpegArithError("DC magnitude category overflow")
            pos += 1
    # next-block conditioning category (F.1.4.4.1.2)
    if m < ((1 << lo) >> 1):
        dstate.ctx = 0
    elif m > ((1 << up) >> 1):
        dstate.ctx = 12 + 4 * sign
    else:
        dstate.ctx = 4 + 4 * sign
    v = m
    pos += 14                                  # magnitude bits area
    m >>= 1
    while m:
        if dec.decode(st, pos):
            v |= m
        m >>= 1
    v += 1
    diff = -v if sign else v
    dstate.pred += diff
    return diff


def decode_ac_band(dec: ArithDecoder, st: _Stats, fixed: _Stats, blk,
                   ss: int, se: int, kx: int, al: int) -> None:
    """F.2.4.2 / G.1.3.2: AC coefficients of one band (first pass);
    ``blk`` is a 64-entry zig-zag-ordered int array."""
    k = ss
    while k <= se:
        base = 3 * (k - 1)
        if dec.decode(st, base):
            return                             # EOB
        while dec.decode(st, base + 1) == 0:
            k += 1
            base += 3
            if k > se:
                raise JpegArithError("AC significance run past band")
        sign = dec.decode(fixed, 0)
        m = dec.decode(st, base + 2)
        pos = base + 2
        if m:
            if dec.decode(st, pos):
                m <<= 1
                pos = 189 if k <= kx else 217
                while dec.decode(st, pos):
                    m <<= 1
                    if m == 0x8000:
                        raise JpegArithError(
                            "AC magnitude category overflow")
                    pos += 1
        v = m
        pos += 14
        m >>= 1
        while m:
            if dec.decode(st, pos):
                v |= m
            m >>= 1
        v += 1
        blk[k] = (-v if sign else v) << al
        k += 1


def decode_ac_refine(dec: ArithDecoder, st: _Stats, fixed: _Stats, blk,
                     ss: int, se: int, al: int) -> None:
    """G.2.3: AC successive-approximation refinement scan for one
    block: correction bits for history coefficients, significance +
    equiprobable sign for new ones, EOB decisions only beyond the
    previous stage's end-of-band index."""
    p1 = 1 << al
    m1 = -1 << al
    kex = se
    while kex > 0 and blk[kex] == 0:
        kex -= 1
    k = ss
    while k <= se:
        base = 3 * (k - 1)
        if k > kex:
            if dec.decode(st, base):
                return                         # EOB
        while True:
            if blk[k]:
                if dec.decode(st, base + 2):
                    blk[k] += m1 if blk[k] < 0 else p1
                break
            if dec.decode(st, base + 1):
                blk[k] = m1 if dec.decode(fixed, 0) else p1
                break
            k += 1
            base += 3
            if k > se:
                raise JpegArithError("AC refinement ran past band")
        k += 1


# --------------------------------------------------------------------------
# Statistical models (encode) — exact mirrors of the decode procedures
# --------------------------------------------------------------------------


def encode_dc_diff(enc: ArithEncoder, st: _Stats, dstate: DcState,
                   diff: int, lo: int, up: int) -> None:
    base = dstate.ctx
    if diff == 0:
        enc.encode(st, base, 0)
        dstate.ctx = 0
        return
    enc.encode(st, base, 1)
    sign = 1 if diff < 0 else 0
    enc.encode(st, base + 1, sign)
    v = -diff if sign else diff
    v -= 1
    # magnitude category: m = largest power of two <= v (0 if v == 0)
    pos = base + 2 + sign
    if v == 0:
        enc.encode(st, pos, 0)
        m = 0
    else:
        enc.encode(st, pos, 1)
        m = 1
        pos = 20
        while v >= (m << 1):
            enc.encode(st, pos, 1)
            m <<= 1
            pos += 1
            if m == 0x8000:
                raise JpegArithError("DC diff out of range")
        enc.encode(st, pos, 0)
    if m < ((1 << lo) >> 1):
        dstate.ctx = 0
    elif m > ((1 << up) >> 1):
        dstate.ctx = 12 + 4 * sign
    else:
        dstate.ctx = 4 + 4 * sign
    pos += 14
    mm = m >> 1
    while mm:
        enc.encode(st, pos, 1 if v & mm else 0)
        mm >>= 1
    dstate.pred += diff


def encode_ac_band(enc: ArithEncoder, st: _Stats, fixed: _Stats, blk,
                   ss: int, se: int, kx: int) -> None:
    """F.1.4.2 encode mirror of ``decode_ac_band`` (sequential / AC
    first pass at point transform 0 — the only mode this encoder
    emits)."""
    last = se
    while last >= ss and blk[last] == 0:
        last -= 1
    k = ss
    while k <= last:
        base = 3 * (k - 1)
        enc.encode(st, base, 0)                # not EOB yet
        while blk[k] == 0:
            enc.encode(st, base + 1, 0)
            k += 1
            base += 3
        enc.encode(st, base + 1, 1)
        coef = blk[k]
        sign = 1 if coef < 0 else 0
        enc.encode(fixed, 0, sign)
        v = (-coef if sign else coef) - 1
        pos = base + 2
        if v == 0:
            enc.encode(st, pos, 0)
            m = 0
        elif v == 1:
            enc.encode(st, pos, 1)
            enc.encode(st, pos, 0)
            m = 1
        else:
            enc.encode(st, pos, 1)
            enc.encode(st, pos, 1)
            m = 2
            pos = 189 if k <= kx else 217
            while v >= (m << 1):
                enc.encode(st, pos, 1)
                m <<= 1
                pos += 1
                if m == 0x8000:
                    raise JpegArithError("AC coefficient out of range")
            enc.encode(st, pos, 0)
        pos += 14
        mm = m >> 1
        while mm:
            enc.encode(st, pos, 1 if v & mm else 0)
            mm >>= 1
        k += 1
    if last < se:                              # EOB before band end
        enc.encode(st, 3 * (k - 1), 1)


# --------------------------------------------------------------------------
# Scan driver (decode) — called from jpeg.decode_jpeg for SOF9/SOF10
# --------------------------------------------------------------------------


def _to_marker(data: bytes, pos: int) -> int:
    """Advance past any unconsumed entropy bytes to the next marker's
    0xFF (stuffed FF 00 pairs are entropy bytes, not markers)."""
    n = len(data)
    while pos < n:
        if data[pos] != 0xFF:
            pos += 1
        elif pos + 1 < n and data[pos + 1] == 0x00:
            pos += 2
        else:
            break
    return pos


def _decode_block_arith(dec, c, blk, ss, se, ah, al, dc_stats, ac_stats,
                        dstate, fixed, dc_cond, ac_cond) -> None:
    if ss == 0:
        if ah == 0:
            lo, up = dc_cond.get(c.td, (0, 1))
            decode_dc_diff(dec, dc_stats[c.td], dstate[id(c)], lo, up)
            blk[0] = dstate[id(c)].pred << al
        else:
            # G.2.2: DC refinement is one equiprobable bit
            if dec.decode(fixed, 0):
                blk[0] |= 1 << al
        if se == 0:
            return
        k = 1
    else:
        k = ss
    kx = ac_cond.get(c.ta, 5)
    if ah == 0:
        decode_ac_band(dec, ac_stats[c.ta], fixed, blk, k, se, kx, al)
    else:
        decode_ac_refine(dec, ac_stats[c.ta], fixed, blk, k, se, al)


def decode_scan_arith(data, start, frame, comps, ss, se, ah, al,
                      dc_cond, ac_cond, restart_interval) -> int:
    """Decode one arithmetic-coded scan into the components'
    coefficient storage (mirrors jpeg._decode_scan's contract);
    returns the offset of the marker terminating the scan.  Restart
    markers reset the coder, the statistics areas, and the DC
    predictors/contexts (F.2.1.3.1)."""
    interleaved = len(comps) > 1
    if ss > se or se > 63:
        raise JpegArithError(f"bad spectral range {ss}..{se}")
    if ss > 0 and interleaved:
        raise JpegArithError("AC scans must be non-interleaved")
    if interleaved:
        n_units = frame.mcux * frame.mcuy
    else:
        c0 = comps[0]
        n_units = c0.nbw * c0.nbh
    units_per_seg = restart_interval if restart_interval else n_units

    pos = start
    unit = 0
    while unit < n_units:
        dec = ArithDecoder(data, pos)
        dc_stats: dict[int, _Stats] = {}
        ac_stats: dict[int, _Stats] = {}
        for c in comps:
            dc_stats.setdefault(c.td, _Stats(DC_STAT_BINS))
            ac_stats.setdefault(c.ta, _Stats(AC_STAT_BINS))
        dstate = {id(c): DcState() for c in comps}
        fixed = make_fixed_bin()
        for _ in range(min(units_per_seg, n_units - unit)):
            if interleaved:
                my, mx = divmod(unit, frame.mcux)
                for c in comps:
                    for by in range(c.v):
                        for bx in range(c.h):
                            blk = c.zz[
                                (my * c.v + by) * c.bw + (mx * c.h + bx)
                            ]
                            _decode_block_arith(
                                dec, c, blk, ss, se, ah, al, dc_stats,
                                ac_stats, dstate, fixed, dc_cond, ac_cond)
            else:
                c = comps[0]
                row, col = divmod(unit, c.nbw)
                blk = c.zz[row * c.bw + col]
                _decode_block_arith(
                    dec, c, blk, ss, se, ah, al, dc_stats, ac_stats,
                    dstate, fixed, dc_cond, ac_cond)
            unit += 1
        pos = _to_marker(data, dec.pos)
        if unit < n_units:
            if (pos + 1 >= len(data) or data[pos] != 0xFF
                    or not 0xD0 <= data[pos + 1] <= 0xD7):
                raise JpegArithError(
                    "expected restart marker between segments")
            pos += 2
    return pos


# --------------------------------------------------------------------------
# Encoder: complete sequential arithmetic (SOF9) files
# --------------------------------------------------------------------------

# forward 8x8 DCT basis (same construction as jpeg._DCT_C)
_FDCT_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
        _FDCT_C[_u, _x] = 0.5 * _c * np.cos(
            (2 * _x + 1) * _u * np.pi / 16.0)

DEFAULT_DC_COND = (0, 1)       # T.81 default L/U thresholds
DEFAULT_AC_KX = 5              # T.81 default Kx


def _plane_blocks(plane: np.ndarray, quant: np.ndarray) -> np.ndarray:
    """(h, w) float plane -> (nblocks, 64) int32 quantized zig-zag
    coefficients, 8-multiple padded by edge replication."""
    h, w = plane.shape
    bh, bw = -(-h // 8), -(-w // 8)
    padded = np.pad(plane, ((0, bh * 8 - h), (0, bw * 8 - w)),
                    mode="edge")
    blocks = (padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
              .reshape(-1, 8, 8) - 128.0)
    freq = np.einsum("ux,nxy,vy->nuv", _FDCT_C, blocks, _FDCT_C)
    zz = freq.reshape(-1, 64)[:, _ZIGZAG]
    q = quant.astype(np.float64)[None, :]
    return np.round(zz / q).astype(np.int32)


def encode_jpeg_arith(img: np.ndarray,
                      quant: np.ndarray | None = None) -> bytes:
    """Encode an (h, w) grayscale or (h, w, 3) RGB uint8 array as a
    sequential ARITHMETIC-coded JPEG (SOF9, 4:4:4, one quantization
    table in zig-zag order, explicit DAC conditioning at the T.81
    defaults).  The independent fixture writer for the arithmetic
    decode path; also cross-checked by the system libjpeg in tests."""
    if quant is None:
        quant = np.ones(64, dtype=np.int32)
    quant = np.asarray(quant, dtype=np.int32).reshape(64)
    if img.ndim == 2:
        planes = [img.astype(np.float64)]
    elif img.ndim == 3 and img.shape[2] == 3:
        r = img[:, :, 0].astype(np.float64)
        g = img[:, :, 1].astype(np.float64)
        b = img[:, :, 2].astype(np.float64)
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0,
        ]
    else:
        raise JpegArithError("image must be (h,w) gray or (h,w,3) RGB")
    h, w = planes[0].shape
    if not (0 < h <= 0xFFFF and 0 < w <= 0xFFFF):
        raise JpegArithError("image dimensions out of range")
    ncomp = len(planes)
    comps_zz = [_plane_blocks(p, quant) for p in planes]

    out = bytearray(b"\xff\xd8")                           # SOI
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0)         # DQT, Pq0/Tq0
    out += bytes(int(q) & 0xFF for q in quant)
    out += b"\xff\xc9" + struct.pack(                      # SOF9
        ">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for ci in range(ncomp):
        out += bytes([ci + 1, 0x11, 0])
    lo, up = DEFAULT_DC_COND
    out += b"\xff\xcc" + struct.pack(">H", 2 + 4)          # DAC
    out += bytes([0x00, (up << 4) | lo, 0x10, DEFAULT_AC_KX])
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for ci in range(ncomp):
        out += bytes([ci + 1, 0x00])
    out += bytes([0, 63, 0])                               # Ss/Se/AhAl

    enc = ArithEncoder()
    dc_stats = _Stats(DC_STAT_BINS)
    ac_stats = _Stats(AC_STAT_BINS)
    fixed = make_fixed_bin()
    dstates = [DcState() for _ in range(ncomp)]
    n_units = comps_zz[0].shape[0]
    for unit in range(n_units):
        for ci in range(ncomp):
            blk = comps_zz[ci][unit]
            diff = int(blk[0]) - dstates[ci].pred
            encode_dc_diff(enc, dc_stats, dstates[ci], diff, lo, up)
            encode_ac_band(enc, ac_stats, fixed, blk, 1, 63,
                           DEFAULT_AC_KX)
    out += enc.flush()
    out += b"\xff\xd9"                                     # EOI
    return bytes(out)

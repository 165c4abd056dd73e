"""Arithmetic-coded JPEG (T.81 Annexes D/F/G): the QM-coder entropy
layer of the JPEG codec in operators/multimodal.py.

The codec has one skeleton: ``multimodal.decode_jpeg`` walks the
markers, parses DQT/DHT/DAC/SOF/DRI/SOS, validates scan headers,
de-stuffs each scan and walks its blocks in A.2 order; the encoders
share one coefficient front end, one scan walker and one set of
marker writers. This module supplies only what is arithmetic about
the extended sequential (SOF9) and progressive (SOF10) processes, 8-
and 12-bit: :func:`_arith_scan` decodes a scan's blocks,
:func:`encode_jpeg_arith` codes them, and
:func:`decode_jpeg_arith` is the skeleton restricted to SOF9/SOF10.
The differential-hierarchy (SOF5-7/13-15) and lossless-arithmetic
(SOF11) processes stay on the codec plug-in chain.

Everything here is derived from the published ITU-T T.81 spec:

- ``_QM_TABLE`` is Table D.3 verbatim (the 113-state Qe estimation
  machine) plus the conventional non-adapting 114th state used for
  the fixed (~equiprobable) decisions of F.1.4.4.1.2.
- ``_QMEncoder`` / ``_QMDecoder`` implement the Annex D QM-coder
  flowcharts (CODE/DECODE with conditional MPS/LPS exchange,
  RENORME/RENORMD, BYTEIN/BYTEOUT with 0xFF00 byte stuffing and
  carry resolution, INITENC/INITDEC, and the CLEARBITS flush).
  MPS owns the BOTTOM subinterval ``[0, A-Qe)`` and LPS the top
  ``Qe``, exchanged when ``A-Qe < Qe`` — the orientation Annex D
  fixes and tests/test_jpeg_arith.py pins with a hand-executed
  trace of the flowcharts (four decisions worked on paper,
  including both exchange branches, asserting the exact flush
  bytes). That trace is the twin-asymmetric fixture: it validates
  the implementation against the STANDARD's arithmetic, not
  against this module's own encoder.
- The DC model (F.1.4.4.1): per-component conditioning context
  classified from the previous diff into zero / ±small / ±large by
  the DAC ``(L, U)`` bounds, magnitude categories on the X1 bin
  chain, one shared mantissa bin per category.
- The AC model (F.1.4.4.2): per-k EOB and run decisions on 3-bin
  strides, sign on the fixed bin, magnitude chains split at the DAC
  ``Kx`` spectral boundary (X2/X3), per-block EOB (arithmetic
  coding has no Huffman-style cross-block EOB runs).
- Progressive (G.2): DC-first diffs at ``Al`` precision, DC
  refinement as one fixed-bin raw decision per block, AC-first over
  the spectral band, AC refinement with the previous-stage EOB
  index ``kex`` gating the per-k EOB decision and correction bits
  on the ``3(k-1)+2`` bins.

Statistics areas reset at every scan start and every restart marker
(F.1.4.4.1.4), as do DC predictors and conditioning contexts; past
the end of a segment the decoder feeds zero bytes (D.2.7).

Like the rest of the in-repo codec family, the per-block Python
loops are sized for fixture-scale payloads inside ``mapInPandas``
Arrow batches — a production deployment registers a native codec
via ``multimodal.register_codec`` for bulk media; what must be
exact here is the SEMANTICS, pinned by roundtrips against the
shared DCT plumbing (arithmetic and Huffman encodes of the same
coefficients must decode to identical pixels).
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import numpy as np

from ceres_spark.operators.multimodal import (
    _JPEG_PROCESSES,
    _code_scan,
    _dct_coefficients,
    _dct_head,
    _decode_jpeg_frames,
    _jpeg_file,
    _loud_corruption,
    _progressive_scans,
    _segment,
    _sof,
)

# --------------------------------------------------- Table D.3 (QM)
#: (Qe, NMPS, NLPS, SWITCH) per state; index 113 is the conventional
#: non-adapting ~equiprobable state for fixed decisions (AC signs,
#: DC refinement bits) — NMPS == NLPS == 113, SWITCH 0, so the
#: estimation step is a no-op on it by construction.
_QM_TABLE = (
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0), (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0), (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0), (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0), (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0), (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0), (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0), (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0), (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0), (0x040F, 53, 50, 0), (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0), (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0), (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0), (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0), (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0), (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0), (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0), (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1), (0x5A1D, 113, 113, 0),
)

#: index of the non-adapting state above
_FIXED_STATE = 113

# statistics-area sizes (F.1.4.4.1.3 / F.1.4.4.2.1): DC uses bins
# 0..19 (contexts) + 20..33 (X1 chain) + 34..48 (mantissae) — 64 is
# the conventional rounded allocation; AC uses 3*(k-1) strides up to
# 186, the X2/X3 chains at 189/217 and their mantissae up to 244.
_DC_BINS = 64
_AC_BINS = 256

# conditioning defaults when no DAC segment redefines them (B.2.4.3)
_DEFAULT_DC_COND = (0, 1)  # (L, U)
_DEFAULT_AC_KX = 5


class _QMDecoder:
    """Annex D.2 QM decoder over one (de-stuffed) entropy segment.

    The C register keeps ``ct`` look-ahead bits low so comparisons
    against the interval happen at ``A' << ct`` — the same lazy
    alignment the spec's software conventions permit (D.2: any
    register arrangement reproducing the flowchart arithmetic).
    Past the segment end it feeds zero bytes (D.2.7: a marker
    terminates the entropy data and decoding continues on zeros
    until the scan's units are complete)."""

    __slots__ = ("_d", "_p", "a", "c", "ct")

    def __init__(self, data: bytes):
        self._d = data
        self._p = 0
        # INITDEC: prime the code register with the first two bytes
        self.c = (self._next() << 8) | self._next()
        self.ct = 0
        self.a = 0x10000

    def _next(self) -> int:
        if self._p < len(self._d):
            b = self._d[self._p]
            self._p += 1
            return b
        return 0

    def decode(self, st: bytearray, i: int) -> int:
        # registers cached in locals and RENORMD inlined (r13 §4.2:
        # ~1M decode() calls per 150 sf0.1 arith images — attribute
        # round-trips and the renorm call were half the kernel);
        # flowchart arithmetic unchanged, bit-identical
        sv = st[i]
        qe, nmps, nlps, sw = _QM_TABLE[sv & 0x7F]
        mps = sv >> 7
        a = self.a - qe
        c = self.c
        ct = self.ct
        if c >= (a << ct):
            # code point in the TOP subinterval (size Qe)
            c -= a << ct
            if a < qe:  # conditional exchange: top decodes MPS
                d = mps
                st[i] = (sv & 0x80) | nmps
            else:
                d = mps ^ 1
                st[i] = ((mps ^ sw) << 7) | nlps
            a = qe
        elif a < 0x8000:
            # bottom subinterval, renormalization due → exchange test
            if a < qe:
                d = mps ^ 1
                st[i] = ((mps ^ sw) << 7) | nlps
            else:
                d = mps
                st[i] = (sv & 0x80) | nmps
        else:
            self.a = a
            return mps
        while a < 0x8000:  # RENORMD
            if ct == 0:
                c = (c << 8) | self._next()
                ct = 8
            a <<= 1
            ct -= 1
        self.a, self.c, self.ct = a, c, ct
        return d


class _QMEncoder:
    """Annex D.1 QM encoder (CODE / RENORME / BYTEOUT / FLUSH).

    Carry is resolved by propagating into the buffered bytes (it
    terminates at the first non-0xFF byte), and the D.1.6 0xFF00
    stuffing is applied as a final pass over the resolved buffer —
    byte-for-byte the stream an emit-as-you-go stuffer produces,
    because stuffing is a pure function of the resolved bytes."""

    __slots__ = ("a", "c", "ct", "out")

    def __init__(self):
        self.a = 0x10000
        self.c = 0
        self.ct = 11
        self.out = bytearray()

    def encode(self, st: bytearray, i: int, d: int) -> None:
        # registers in locals, RENORME inlined (r13 §4.2 — same
        # treatment as _QMDecoder.decode; flowchart arithmetic
        # unchanged, byte-identical output)
        sv = st[i]
        qe, nmps, nlps, sw = _QM_TABLE[sv & 0x7F]
        mps = sv >> 7
        a = self.a - qe
        if d == mps:
            if a >= 0x8000:
                self.a = a
                return
            if a < qe:  # conditional exchange: MPS takes top
                self.c += a
                a = qe
            st[i] = (sv & 0x80) | nmps
        else:
            if a >= qe:  # normal LPS: top subinterval, size Qe
                self.c += a
                a = qe
            # else exchange: LPS keeps the bottom (C unchanged)
            st[i] = ((mps ^ sw) << 7) | nlps
        c = self.c
        ct = self.ct
        while a < 0x8000:  # RENORME
            a <<= 1
            c <<= 1
            ct -= 1
            if ct == 0:
                self.c = c
                self._byteout()
                c = self.c
                ct = 8
        self.a, self.c, self.ct = a, c, ct

    def _byteout(self) -> None:
        t = self.c >> 19
        if t > 0xFF:
            j = len(self.out) - 1
            while j >= 0:
                self.out[j] = (self.out[j] + 1) & 0xFF
                if self.out[j]:
                    break
                j -= 1
            t &= 0xFF
        self.out.append(t)
        self.c &= 0x7FFFF

    def flush(self) -> bytes:
        # CLEARBITS (D.1.8): largest low-zeros point inside [C, C+A)
        t = (self.c + self.a - 1) & ~0xFFFF
        self.c = t if t >= self.c else t + 0x8000
        # drain: align the pending bits, then two byteouts empty the
        # register (CLEARBITS zeroed everything below bit 15)
        self.c <<= self.ct
        self._byteout()
        self.c <<= 8
        self._byteout()
        stuffed = bytearray()
        for b in self.out:
            stuffed.append(b)
            if b == 0xFF:
                stuffed.append(0x00)
        return bytes(stuffed)


# ------------------------------------------------ statistical models


class _ScanStats:
    """Per-scan statistics areas + DC conditioning state, reset at
    scan start and every restart marker (F.1.4.4.1.4)."""

    def __init__(self, scan_comps):
        # scan_comps: list of (cid, dc_tbl, ac_tbl)
        self.dc = {td: bytearray(_DC_BINS) for _, td, _ in scan_comps}
        self.ac = {ta: bytearray(_AC_BINS) for _, _, ta in scan_comps}
        self.fixed = bytearray([_FIXED_STATE])
        self.pred = {cid: 0 for cid, _, _ in scan_comps}
        self.ctx = {cid: 0 for cid, _, _ in scan_comps}


def _dc_class(m: int, sign: int, lo: int, up: int) -> int:
    """F.1.4.4.1.2: conditioning category of a nonzero diff whose
    magnitude category is ``m`` — 0 (near-zero), 4/8 (±small),
    12/16 (±large)."""
    if m < ((1 << lo) >> 1):
        return 0
    if m > ((1 << up) >> 1):
        return 12 + 4 * sign
    return 4 + 4 * sign


def _dec_dc_diff(dec, dc, ctx, lo, up):
    """Figures F.19/F.21-F.24 for one DC difference; returns
    (diff, next_context)."""
    b = ctx
    if dec.decode(dc, b) == 0:
        return 0, 0
    sign = dec.decode(dc, b + 1)
    if dec.decode(dc, b + 2 + sign) == 0:
        m = 0
        n = 0
    else:
        m = 1
        s = 20  # X1
        while dec.decode(dc, s):
            m <<= 1
            if m == 0x8000:
                raise ValueError("arithmetic JPEG DC magnitude overflow")
            s += 1
        n = m
        mant = s + 14
        bit = m >> 1
        while bit:
            if dec.decode(dc, mant):
                n |= bit
            bit >>= 1
    v = n + 1
    return (-v if sign else v), _dc_class(m, sign, lo, up)


def _enc_dc_diff(enc, dc, ctx, diff, lo, up) -> int:
    """Encoder mirror of :func:`_dec_dc_diff`; returns the next
    conditioning context."""
    b = ctx
    if diff == 0:
        enc.encode(dc, b, 0)
        return 0
    enc.encode(dc, b, 1)
    sign = 1 if diff < 0 else 0
    enc.encode(dc, b + 1, sign)
    n = (-diff if sign else diff) - 1
    if n == 0:
        enc.encode(dc, b + 2 + sign, 0)
        m = 0
    else:
        enc.encode(dc, b + 2 + sign, 1)
        m = 1
        s = 20
        while n >= (m << 1):
            enc.encode(dc, s, 1)
            m <<= 1
            if m == 0x8000:
                raise ValueError("DC diff exceeds the T.81 magnitude cap")
            s += 1
        enc.encode(dc, s, 0)
        mant = s + 14
        bit = m >> 1
        while bit:
            enc.encode(dc, mant, 1 if n & bit else 0)
            bit >>= 1
    return _dc_class(m, sign, lo, up)


def _dec_ac_mag(dec, ac, b2, xb):
    """Figures F.21/F.23/F.24 magnitude for one AC coefficient:
    decisions (n>=1) and (n>=2) on the ``3(k-1)+2`` bin, the rest of
    the category chain on the X2/X3 bins; returns n = |v| - 1."""
    if dec.decode(ac, b2) == 0:
        return 0
    if dec.decode(ac, b2) == 0:
        m = 1
        mant = b2 + 14
    else:
        m = 2
        s = xb
        while dec.decode(ac, s):
            m <<= 1
            if m == 0x8000:
                raise ValueError("arithmetic JPEG AC magnitude overflow")
            s += 1
        mant = s + 14
    n = m
    bit = m >> 1
    while bit:
        if dec.decode(ac, mant):
            n |= bit
        bit >>= 1
    return n


def _enc_ac_mag(enc, ac, b2, xb, n) -> None:
    """Encoder mirror of :func:`_dec_ac_mag` (n = |v| - 1 >= 0)."""
    if n == 0:
        enc.encode(ac, b2, 0)
        return
    enc.encode(ac, b2, 1)
    if n == 1:
        enc.encode(ac, b2, 0)
        return  # category m=1 has no mantissa bits
    enc.encode(ac, b2, 1)
    m = 2
    s = xb
    while n >= (m << 1):
        enc.encode(ac, s, 1)
        m <<= 1
        if m == 0x8000:
            raise ValueError("AC value exceeds the T.81 magnitude cap")
        s += 1
    enc.encode(ac, s, 0)
    mant = s + 14
    bit = m >> 1
    while bit:
        enc.encode(ac, mant, 1 if n & bit else 0)
        bit >>= 1


def _dec_ac_band(dec, stats, ac, blk, ss, se, al, kx) -> None:
    """F.20 / G.2 AC decode of one block over the [ss, se] band into
    ``blk`` (zigzag-indexed), values scaled by ``1 << al``."""
    k = ss
    while k <= se:
        b = 3 * (k - 1)
        if dec.decode(ac, b):
            return  # EOB
        while dec.decode(ac, b + 1) == 0:
            b += 3
            k += 1
            if k > se:
                raise ValueError("arithmetic JPEG AC run past Se")
        sign = dec.decode(stats.fixed, 0)
        xb = 189 if k <= kx else 217
        v = _dec_ac_mag(dec, ac, b + 2, xb) + 1
        blk[k] = (-v if sign else v) << al
        k += 1


def _enc_ac_band(enc, stats, ac, vals, ss, se, kx) -> None:
    """Encoder mirror of :func:`_dec_ac_band` over pre-scaled
    ``vals`` (zigzag-indexed ints at the scan's Al precision)."""
    k = ss
    while k <= se:
        knz = next((j for j in range(k, se + 1) if vals[j]), None)
        b = 3 * (k - 1)
        if knz is None:
            enc.encode(ac, b, 1)  # EOB
            return
        enc.encode(ac, b, 0)
        while k < knz:
            enc.encode(ac, b + 1, 0)
            b += 3
            k += 1
        enc.encode(ac, b + 1, 1)
        v = vals[k]
        enc.encode(stats.fixed, 0, 1 if v < 0 else 0)
        xb = 189 if k <= kx else 217
        _enc_ac_mag(enc, ac, b + 2, xb, abs(v) - 1)
        k += 1


def _dec_ac_refine(dec, stats, ac, blk, ss, se, al) -> None:
    """G.2 AC refinement of one block: the previous-stage EOB index
    gates the per-k EOB decision; already-nonzero coefficients take
    one correction bit on the ``+2`` bin, newly-nonzero ones a
    significance decision on ``+1`` plus a fixed-bin sign."""
    p1 = 1 << al
    m1 = -1 << al
    kex = se
    while kex > 0 and blk[kex] == 0:
        kex -= 1
    k = ss
    while k <= se:
        b = 3 * (k - 1)
        if k > kex and dec.decode(ac, b):
            return  # EOB
        while True:
            if blk[k]:
                if dec.decode(ac, b + 2):
                    blk[k] += m1 if blk[k] < 0 else p1
                break
            if dec.decode(ac, b + 1):
                blk[k] = m1 if dec.decode(stats.fixed, 0) else p1
                break
            b += 3
            k += 1
            if k > se:
                raise ValueError("arithmetic JPEG refinement past Se")
        k += 1


def _enc_ac_refine(enc, stats, ac, prev, cur, ss, se) -> None:
    """Encoder mirror of :func:`_dec_ac_refine`: ``prev`` holds the
    coefficients at the previous precision (Ah), ``cur`` at this
    scan's (Al) — both zigzag-indexed signed ints."""
    kex = se
    while kex > 0 and prev[kex] == 0:
        kex -= 1
    k = ss
    while k <= se:
        b = 3 * (k - 1)
        if k > kex:
            if not any(cur[j] for j in range(k, se + 1)):
                enc.encode(ac, b, 1)  # EOB
                return
            enc.encode(ac, b, 0)
        while True:
            if prev[k]:
                enc.encode(ac, b + 2, abs(cur[k]) & 1)
                break
            if cur[k]:
                enc.encode(ac, b + 1, 1)
                enc.encode(stats.fixed, 0, 1 if cur[k] < 0 else 0)
                break
            enc.encode(ac, b + 1, 0)
            b += 3
            k += 1
        k += 1


# ------------------------------------------------------------ decode


def _arith_scan(sc):
    """QM-coder entropy layer of the shared JPEG skeleton, returning
    its (restart, block) pair. Sequential (F.1.4): a DC difference on
    the conditioned model, then the AC band 1..63. Progressive (G.2):
    DC first (shifted by Al), DC refinement (one fixed-bin decision),
    AC first over [Ss, Se] or AC refinement. A restart resets the
    statistics, predictors and conditioning contexts and starts a
    fresh INITDEC on the next segment (zero bytes past the last)."""
    segs, comps, prog = sc.segments, sc.comps, sc.progressive
    ss, se, ah, al = sc.ss, sc.se, sc.ah, sc.al
    conds = {cid: sc.dac.get((0, td), _DEFAULT_DC_COND)
             for cid, td, _ in comps}
    kxs = {cid: sc.dac.get((1, ta), _DEFAULT_AC_KX) for cid, _, ta in comps}
    dc_t = {cid: td for cid, td, _ in comps}
    ac_t = {cid: ta for cid, _, ta in comps}
    coefs = sc.store
    dec, stats = _QMDecoder(segs[0]), _ScanStats(comps)

    def restart(k):
        nonlocal dec, stats
        dec = _QMDecoder(segs[k + 1] if k + 1 < len(segs) else b"")
        stats = _ScanStats(comps)

    if not prog or (ss == 0 and ah == 0):
        def block(cid, by, bx):
            blk = coefs[cid][by, bx]
            lo, up = conds[cid]
            diff, stats.ctx[cid] = _dec_dc_diff(
                dec, stats.dc[dc_t[cid]], stats.ctx[cid], lo, up
            )
            stats.pred[cid] += diff
            blk[0] = stats.pred[cid] << al
            if not prog:
                _dec_ac_band(dec, stats, stats.ac[ac_t[cid]], blk, 1, 63,
                             0, kxs[cid])
    elif ss == 0:
        def block(cid, by, bx):
            if dec.decode(stats.fixed, 0):
                coefs[cid][by, bx, 0] |= 1 << al
    elif ah == 0:
        def block(cid, by, bx):
            _dec_ac_band(dec, stats, stats.ac[ac_t[cid]], coefs[cid][by, bx],
                         ss, se, al, kxs[cid])
    else:
        def block(cid, by, bx):
            _dec_ac_refine(dec, stats, stats.ac[ac_t[cid]],
                           coefs[cid][by, bx], ss, se, al)

    return restart, block


_ARITH_PROCESSES = {
    m: p for m, p in _JPEG_PROCESSES.items() if p and p[0] == "arith"
}


@_loud_corruption("JPEG")
def decode_jpeg_arith(payload: bytes) -> "np.ndarray":
    """Decode an arithmetic-coded JPEG (SOF9 extended sequential or
    SOF10 progressive, 8- or 12-bit) to (h, w, 3) uint8: the shared
    skeleton of ``multimodal.decode_jpeg`` with :func:`_arith_scan`
    as its entropy layer, so geometry, restart handling, the
    coefficient-store epilogue and the truncation contract (missing
    EOI or undecoded components raise ValueError, and so does a cut
    header or table) are decode_jpeg's.
    DAC segments set the DC (L, U) conditioning bounds and the AC Kx
    spectral split; defaults per B.2.4.3. Any other frame marker is
    skipped, so a Huffman or lossless stream has no frame here."""
    return _decode_jpeg_frames(payload, _ARITH_PROCESSES)


# ------------------------------------------------------------ encode


def encode_jpeg_arith(
    arr: "np.ndarray",
    quality: int = 85,
    subsample: int = 1,
    restart_interval: int = 0,
    progressive: bool = False,
    depth: int = 8,
    dc_cond: tuple[int, int] = _DEFAULT_DC_COND,
    ac_kx: int = _DEFAULT_AC_KX,
) -> bytes:
    """Arithmetic-coded JPEG encoder (SOF9, or SOF10 with
    ``progressive=True``) — the fixture/roundtrip twin of
    :func:`decode_jpeg_arith`, sharing encode_jpeg's coefficient
    front end exactly so an arithmetic and a Huffman encode of the
    same image carry IDENTICAL coefficients (the
    cross-entropy-coder pixel-equality test rests on that). Emits a
    DAC segment spelling out the conditioning even at the default
    values, so the decoder's DAC parse is always exercised.
    ``progressive=True`` follows the Huffman twin's Annex G script.
    ``restart_interval`` is sequential-only, like the twin."""
    if restart_interval and progressive:
        raise ValueError(
            "restart markers unsupported with progressive scans"
        )
    lo, up = dc_cond
    if not (0 <= lo <= up <= 15):
        raise ValueError("DC conditioning needs 0 <= L <= U <= 15")
    if not 1 <= ac_kx <= 63:
        raise ValueError("AC conditioning Kx must be in 1..63")
    comps, grids, qtabs, h, w = _dct_coefficients(
        arr, quality, subsample, depth, "encode_jpeg_arith"
    )
    tq = {cid: t for cid, _, _, t in comps}

    def opener(code_block):
        # one scan's coder: fresh QM encoder and statistics areas
        def open_scan(sc):
            enc = _QMEncoder()
            stats = _ScanStats([(cid, t, t) for cid, _, _, t in sc])
            return functools.partial(code_block, enc, stats), enc.flush
        return open_scan

    def sequential(enc, stats, cid, by, bx, al=0, ac=True):
        vals = grids[cid][by, bx].tolist()
        dc = vals[0] >> al
        diff = dc - stats.pred[cid]
        stats.pred[cid] = dc
        stats.ctx[cid] = _enc_dc_diff(
            enc, stats.dc[tq[cid]], stats.ctx[cid], diff, lo, up
        )
        if ac:
            _enc_ac_band(enc, stats, stats.ac[tq[cid]], vals, 1, 63, ac_kx)

    def halved(cid, by, bx):
        # the Al=1 stage: magnitudes truncated toward zero, sign kept
        return [-(-v >> 1) if v < 0 else v >> 1
                for v in grids[cid][by, bx].tolist()]

    def ac_first(enc, stats, cid, by, bx):
        _enc_ac_band(enc, stats, stats.ac[tq[cid]], halved(cid, by, bx),
                     1, 63, ac_kx)

    def ac_refine(enc, stats, cid, by, bx):
        _enc_ac_refine(enc, stats, stats.ac[tq[cid]], halved(cid, by, bx),
                       grids[cid][by, bx].tolist(), 1, 63)

    def dc_refine(enc, stats, cid, by, bx):
        enc.encode(stats.fixed, 0, int(grids[cid][by, bx, 0]) & 1)

    if progressive:
        coded = _progressive_scans(
            comps, h, w,
            opener(functools.partial(sequential, al=1, ac=False)),
            opener(ac_first), opener(ac_refine), opener(dc_refine),
        )
    else:
        coded = [(comps, 0, 63, 0x00, _code_scan(
            comps, h, w, [c[0] for c in comps], restart_interval,
            functools.partial(opener(sequential), comps),
        ))]
    dac = b"".join(
        bytes([t, (up << 4) | lo, 0x10 | t, ac_kx])
        for t in range(len(qtabs))
    )
    sof = _sof(0xCA if progressive else 0xC9, depth, h, w, comps)
    return _jpeg_file(_dct_head(qtabs) + _segment(0xCC, dac), sof, b"",
                      restart_interval, coded)


# ------------------------------------------------- Spark fixture flow


def arith_assets_from_documents(docs, stride: int = 1) -> "object":
    """Build REAL arithmetic-coded JPEG payloads from ``documents``:
    every doc becomes an image whose pixels tile the utf-8 text bytes
    (the same content-derived geometry real_assets_from_documents
    uses), with the dialect cycling by doc_id through the full SOF9/
    SOF10 matrix — sequential 4:4:4 / 4:2:0, restart intervals,
    progressive, 12-bit, non-default DAC conditioning, and grayscale
    — so no arithmetic decode path exists only in unit tests. One
    mapInPandas encode pass, no shuffle (payload bytes never leave
    the task); the registry entry ``multimodal_decode_arith`` runs
    the real decode + feature pass over these.

    ``stride`` lets a caller feed every stride-th doc while KEEPING
    the full 8-dialect cycle (the selector divides doc_id by the
    stride first) — the registry entry uses stride=4 because the QM
    decode is per-bit Python and the entry's purpose is external
    dialect lineage, not bulk throughput (that is plug-in-codec
    territory, same story as phash_neardup)."""
    import pandas as pd

    def enc(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            payloads, modalities = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = np.frombuffer(
                    (text or " ").encode("utf-8"), dtype=np.uint8
                )
                w = 16 + len(raw) % 17
                h = 16 + (len(raw) * 7) % 13
                px = np.resize(raw, (h, w, 3))
                d = int(doc_id) // int(stride)
                sel = d % 8
                if sel == 0:
                    payloads.append(encode_jpeg_arith(px, quality=95))
                elif sel == 1:
                    payloads.append(
                        encode_jpeg_arith(px, quality=95, subsample=2)
                    )
                elif sel == 2:
                    payloads.append(encode_jpeg_arith(
                        px, quality=95,
                        restart_interval=1 + (d // 8) % 3,
                    ))
                elif sel == 3:
                    payloads.append(
                        encode_jpeg_arith(px, quality=95,
                                          progressive=True)
                    )
                elif sel == 4:
                    payloads.append(
                        encode_jpeg_arith(px, quality=95, depth=12)
                    )
                elif sel == 5:
                    payloads.append(encode_jpeg_arith(
                        px, quality=95, progressive=True, subsample=2,
                    ))
                elif sel == 6:
                    lo = (d // 8) % 3
                    payloads.append(encode_jpeg_arith(
                        px, quality=95,
                        dc_cond=(lo, lo + 1 + (d // 8) % 4),
                        ac_kx=1 + (d // 8) % 63,
                    ))
                else:
                    payloads.append(
                        encode_jpeg_arith(px[:, :, 0], quality=95)
                    )
                modalities.append("image")
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "modality": modalities,
                    "payload": payloads,
                }
            )

    # same parallelism note as real_assets_from_documents: the encode
    # pass is CPU-bound Python and a toy-scale documents table
    # arrives as 1-2 parquet files — repartition to the session's
    # shuffle parallelism (shuffles only (doc_id, text); layout no-op
    # at production scale where the input already has many splits)
    return (
        docs.select("doc_id", "text")
        .repartition(
            int(
                docs.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        )
        .mapInPandas(
            enc,
            schema="asset_id long, modality string, payload binary",
        )
    )

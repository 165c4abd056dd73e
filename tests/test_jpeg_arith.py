"""Arithmetic-coded JPEG (SOF9/SOF10, T.81 Annex D/F/G) conformance.

Three independent legs so twin-symmetric errors can't hide:

1. A HAND-EXECUTED trace of the Annex D flowcharts (four decisions
   worked on paper below, covering plain-MPS, LPS-with-conditional-
   exchange on both the Qe>half and mid-interval states, estimation
   state transitions, and the CLEARBITS flush) pinned to exact
   output bytes — validates the coder against the STANDARD's
   arithmetic, not against this repo's own twin.
2. QM-coder property roundtrips (random + heavily biased streams
   driving the carry-propagation and 0xFF00 stuffing paths).
3. Cross-ENTROPY-CODER pixel equality: an arithmetic and a Huffman
   encode of the same image share the DCT/quantization plumbing, so
   their decodes must be IDENTICAL pixel-for-pixel across the full
   parameter matrix (sampling, restart, progressive, 12-bit, DAC
   conditioning) — any asymmetric defect in either entropy layer
   breaks the equality.
"""

import random
import struct

import numpy as np
import pytest

from ceres_spark.operators import multimodal as mm
from ceres_spark.operators import jpeg_arith as ja


def _rand_img(h, w, seed=0, gray=False):
    rng = np.random.RandomState(seed)
    shape = (h, w) if gray else (h, w, 3)
    return rng.randint(0, 256, shape, dtype=np.uint8)


def _destuff(b: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(b):
        out.append(b[i])
        if b[i] == 0xFF:
            assert i + 1 < len(b) and b[i + 1] == 0, "unstuffed 0xFF"
            i += 2
        else:
            i += 1
    return bytes(out)


# ------------------------------------------------ QM coder (Annex D)


def test_qm_table_invariants():
    # Table D.3 self-checks: 113 adaptive states + the fixed state;
    # transitions in range; SWITCH only on the Qe≈0.5 states; the
    # fixed state is a true fixed point of the estimation machine
    assert len(ja._QM_TABLE) == 114
    for i, (qe, nmps, nlps, sw) in enumerate(ja._QM_TABLE):
        assert 0 < qe <= 0x5B12, i
        assert 0 <= nmps < 114 and 0 <= nlps < 114, i
        assert sw in (0, 1)
        if sw:
            assert qe >= 0x5522, i  # exchange only near equiprobable
    qe, nmps, nlps, sw = ja._QM_TABLE[ja._FIXED_STATE]
    assert (nmps, nlps, sw) == (113, 113, 0)
    # the canonical anchor values every T.81 transcription shares
    assert ja._QM_TABLE[0][0] == 0x5A1D
    assert ja._QM_TABLE[13][0] == 0x0001
    assert ja._QM_TABLE[112][0] == 0x59EB


def test_qm_hand_executed_flowchart_trace():
    """Annex D flowcharts executed BY HAND for the decision sequence
    MPS, LPS, LPS, LPS on one fresh context (I=0, MPS=0):

    1. CODEMPS: A = 0x10000-0x5A1D = 0xA5E3 >= 0x8000 → no renorm.
    2. CODELPS: A = 0xA5E3-0x5A1D = 0x4BC6 < Qe → conditional
       exchange (LPS keeps the bottom, C unchanged); SWITCH=1 flips
       MPS→1, I→NLPS(0)=1; renorm 1 shift → A=0x978C, CT=10.
    3. d=0 is now LPS (I=1, Qe=0x2586): A = 0x978C-0x2586 = 0x7206
       >= Qe → normal LPS: C += 0x7206, A = 0x2586, I→NLPS(1)=14;
       renorm 2 shifts → A=0x9618, C=0x1C818, CT=8.
    4. d=0 is LPS again (I=14, Qe=0x5A7F, SWITCH=1): A = 0x9618-
       0x5A7F = 0x3B99 < Qe → exchange (C unchanged), MPS flips
       back to 0, I→NLPS(14)=15; renorm 2 shifts → A=0xEE64,
       C=0x72060, CT=6.
    FLUSH: CLEARBITS T = (0x72060+0xEE63) & ~0xFFFF = 0x80000 >= C
    → C = 0x80000; C <<= 6 → 0x2000000; byteout → 0x40; second
    byteout → 0x00.  Stream: 40 00.
    """
    st = bytearray(1)
    enc = ja._QMEncoder()
    for d in (0, 1, 0, 0):
        enc.encode(st, 0, d)
    assert enc.flush() == b"\x40\x00"
    # the state walked 0 → 1 → 14 → 15 with MPS ending at 0
    assert st[0] == 15
    # and the decoder recovers the decision sequence from the bytes
    st2 = bytearray(1)
    dec = ja._QMDecoder(b"\x40\x00")
    assert [dec.decode(st2, 0) for _ in range(4)] == [0, 1, 0, 0]
    assert st2[0] == st[0]


def test_qm_roundtrip_random_contexts():
    rng = random.Random(7)
    for trial in range(40):
        nctx = rng.randint(1, 6)
        bits = [(rng.randint(0, nctx - 1), rng.randint(0, 1))
                for _ in range(rng.randint(1, 3000))]
        st = bytearray(nctx)
        enc = ja._QMEncoder()
        for c, d in bits:
            enc.encode(st, c, d)
        data = _destuff(enc.flush())
        st = bytearray(nctx)
        dec = ja._QMDecoder(data)
        assert [dec.decode(st, c) for c, _ in bits] == \
            [d for _, d in bits], trial


def test_qm_roundtrip_biased_streams_hit_carry_and_stuffing():
    # heavily-skewed streams drive Qe toward 0x0001, producing long
    # runs of 0xFF output bytes (stuffing) and late carries that
    # must propagate through them
    hit_ff = 0
    for trial in range(30):
        rng = random.Random(1000 + trial)
        bits = [(0, 0 if rng.random() < 0.985 else 1)
                for _ in range(4000)]
        st = bytearray(1)
        enc = ja._QMEncoder()
        for c, d in bits:
            enc.encode(st, c, d)
        raw = enc.flush()
        if b"\xff\x00" in raw:
            hit_ff += 1
        st = bytearray(1)
        dec = ja._QMDecoder(_destuff(raw))
        assert [dec.decode(st, c) for c, _ in bits] == \
            [d for _, d in bits], trial
    assert hit_ff > 0  # the stuffing path was actually exercised


def test_qm_fixed_state_never_adapts():
    st = bytearray([ja._FIXED_STATE])
    enc = ja._QMEncoder()
    rng = random.Random(3)
    bits = [rng.randint(0, 1) for _ in range(500)]
    for d in bits:
        enc.encode(st, 0, d)
        assert st[0] == ja._FIXED_STATE
    st2 = bytearray([ja._FIXED_STATE])
    dec = ja._QMDecoder(_destuff(enc.flush()))
    assert [dec.decode(st2, 0) for _ in bits] == bits
    assert st2[0] == ja._FIXED_STATE


# --------------------------------- cross-entropy-coder pixel equality


@pytest.mark.parametrize("kw", [
    dict(),
    dict(subsample=2),
    dict(restart_interval=2),
    dict(restart_interval=3, subsample=2),
    dict(depth=12),
    dict(restart_interval=2, depth=12),
    dict(dc_cond=(1, 3), ac_kx=20),
    dict(dc_cond=(0, 0), ac_kx=1),
    dict(dc_cond=(2, 4), ac_kx=63),
])
def test_sequential_matches_huffman_twin_pixels(kw):
    img = _rand_img(21, 34, seed=3)
    arith = ja.decode_jpeg_arith(
        ja.encode_jpeg_arith(img, quality=90, **kw)
    )
    hkw = {k: v for k, v in kw.items() if k in
           ("subsample", "restart_interval", "depth")}
    huff = mm.decode_jpeg(mm.encode_jpeg(img, quality=90, **hkw))
    assert np.array_equal(arith, huff), kw


@pytest.mark.parametrize("kw", [
    dict(progressive=True),
    dict(progressive=True, subsample=2),
    dict(progressive=True, depth=12),
    dict(progressive=True, dc_cond=(1, 2), ac_kx=10),
])
def test_progressive_matches_huffman_twin_pixels(kw):
    img = _rand_img(19, 27, seed=11)
    arith = ja.decode_jpeg_arith(
        ja.encode_jpeg_arith(img, quality=88, **kw)
    )
    hkw = {k: v for k, v in kw.items() if k in ("subsample", "depth")}
    huff = mm.decode_jpeg(
        mm.encode_jpeg(img, quality=88, scans="progressive", **hkw)
    )
    assert np.array_equal(arith, huff), kw


def test_gray_matches_huffman_twin_pixels():
    img = _rand_img(17, 19, seed=5, gray=True)
    huff = mm.decode_jpeg(mm.encode_jpeg(img, quality=95))
    seq = ja.decode_jpeg_arith(ja.encode_jpeg_arith(img, quality=95))
    prog = ja.decode_jpeg_arith(
        ja.encode_jpeg_arith(img, quality=95, progressive=True)
    )
    assert np.array_equal(seq, huff)
    assert np.array_equal(prog, huff)


def test_arithmetic_is_smaller_than_huffman():
    # the point of the QM coder: adaptive contexts beat the static
    # Huffman tables on real content (T.81 Annex D's raison d'être)
    img = _rand_img(32, 32, seed=9)
    a = len(ja.encode_jpeg_arith(img, quality=90))
    h = len(mm.encode_jpeg(img, quality=90))
    assert a < h


def test_decode_jpeg_dispatches_sof9_and_sof10():
    img = _rand_img(12, 15, seed=13)
    for prog in (False, True):
        payload = ja.encode_jpeg_arith(img, quality=92,
                                       progressive=prog)
        marker = b"\xff\xca" if prog else b"\xff\xc9"
        assert marker in payload and b"\xff\xcc" in payload  # DAC
        out = mm.decode_jpeg(payload)  # the shared entry point
        assert np.array_equal(out, ja.decode_jpeg_arith(payload))


def test_decode_real_routes_arithmetic_jpeg():
    # smooth content (like test_jpeg's gradient) so the >40 dB bound
    # tests "not garbled", not the codec's noise performance
    gx, gy = np.meshgrid(np.arange(16), np.arange(16))
    img = np.stack(
        [(gx * 16) % 256, (gy * 16) % 256, ((gx + gy) * 8) % 256],
        axis=2,
    ).astype(np.uint8)
    kind, px = mm.decode_real(
        ja.encode_jpeg_arith(img, quality=95), "image"
    )
    assert kind == "image" and px.shape == img.shape
    # near the source (lossy, not garbled)
    err = np.mean(
        (px.astype(np.float64) - img.astype(np.float64)) ** 2
    )
    assert 10.0 * np.log10(255.0 ** 2 / err) > 40


def test_extract_features_over_arithmetic_payloads(spark):
    # Spark-side plumbing: arithmetic payloads flow through the real
    # mapInPandas decode exactly like the other five JPEG processes
    import pandas as pd

    rows = []
    for i in range(6):
        img = _rand_img(16 + i, 20, seed=40 + i)
        rows.append((i, "image", bytearray(ja.encode_jpeg_arith(
            img, quality=93, progressive=i % 2 == 1,
            subsample=1 + i % 2 if i % 2 == 0 else 1,
        ))))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["asset_id", "modality", "payload"])
    )
    feats = {
        r["asset_id"]: r["features"]
        for r in mm.extract_features(df, real=True).collect()
    }
    assert len(feats) == 6
    for v in feats.values():
        assert len(v) == mm.FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in v)


# --------------------------------------------------- error contracts


def test_truncation_raises_value_error():
    img = _rand_img(18, 22, seed=23)
    for prog in (False, True):
        payload = ja.encode_jpeg_arith(img, quality=90,
                                       progressive=prog)
        # cut the EOI: silent-partial decode is forbidden (codec
        # contract clause 4)
        with pytest.raises(ValueError):
            ja.decode_jpeg_arith(payload[:-2])
        # cut a whole trailing scan (progressive refinements):
        # components/EOI checks must fire, not a coarse decode
        with pytest.raises(ValueError):
            ja.decode_jpeg_arith(payload[:len(payload) * 2 // 3])


def test_malformed_streams_raise():
    with pytest.raises(ValueError):
        ja.decode_jpeg_arith(b"\xff\xd8\xff\xe0junk")
    # SOS before SOF
    p = (b"\xff\xd8\xff\xda" + struct.pack(">H", 8)
         + bytes([1, 1, 0, 0, 63, 0]))
    with pytest.raises(ValueError):
        ja.decode_jpeg_arith(p)
    # DAC with L > U
    img = _rand_img(8, 8, seed=29)
    payload = bytearray(ja.encode_jpeg_arith(img, dc_cond=(2, 3)))
    i = bytes(payload).find(b"\xff\xcc")
    payload[i + 5] = 0x14  # U=1 < L=4
    with pytest.raises(ValueError):
        ja.decode_jpeg_arith(bytes(payload))
    # DAC with Kx = 0
    payload = bytearray(ja.encode_jpeg_arith(img))
    i = bytes(payload).find(b"\xff\xcc")
    payload[i + 7] = 0  # AC Kx out of range
    with pytest.raises(ValueError):
        ja.decode_jpeg_arith(bytes(payload))


def test_progressive_spectral_band_violations_raise():
    # T.81 G.1: a progressive DC scan (Ss=0) must carry Se=0, and an
    # AC scan needs 1 <= Ss <= Se <= 63 — a malformed header must
    # raise, not quietly decode as a DC-only scan (ADVICE r8)
    img = _rand_img(8, 8, seed=37, gray=True)
    clean = bytes(ja.encode_jpeg_arith(img, quality=90,
                                       progressive=True))

    def sos_offsets(buf):
        out, i = [], 0
        while True:
            i = buf.find(b"\xff\xda", i)
            if i < 0:
                return out
            out.append(i)
            i += 2

    offs = sos_offsets(clean)
    assert len(offs) >= 2  # DC first, then AC band scan(s)
    # gray progressive scans are single-component: Ss sits at
    # marker(2) + len(2) + ns(1) + one (cid, tables) pair(2)
    ss_at = [o + 7 for o in offs]
    assert clean[ss_at[0]] == 0 and clean[ss_at[0] + 1] == 0

    dc_bad = bytearray(clean)
    dc_bad[ss_at[0] + 1] = 5  # DC scan claiming Se=5
    with pytest.raises(ValueError):
        ja.decode_jpeg_arith(bytes(dc_bad))

    ac = next(o for o in ss_at[1:] if clean[o] > 0)
    ac_rev = bytearray(clean)
    ac_rev[ac + 1] = clean[ac] - 1  # Se < Ss
    with pytest.raises(ValueError):
        ja.decode_jpeg_arith(bytes(ac_rev))
    ac_wide = bytearray(clean)
    ac_wide[ac + 1] = 200  # Se > 63
    with pytest.raises(ValueError):
        ja.decode_jpeg_arith(bytes(ac_wide))

    ja.decode_jpeg_arith(clean)  # untampered stream still decodes


def test_encoder_rejects_bad_parameters():
    img = _rand_img(8, 8, seed=31)
    with pytest.raises(ValueError):
        ja.encode_jpeg_arith(img, depth=10)
    with pytest.raises(ValueError):
        ja.encode_jpeg_arith(img, progressive=True, restart_interval=2)
    with pytest.raises(ValueError):
        ja.encode_jpeg_arith(img, dc_cond=(5, 2))
    with pytest.raises(ValueError):
        ja.encode_jpeg_arith(img, ac_kx=64)
    with pytest.raises(ValueError):
        ja.encode_jpeg_arith(img, subsample=3)
    with pytest.raises(ValueError):
        ja.encode_jpeg_arith(np.zeros((4, 4, 3), np.float32))


def test_restart_interval_resets_are_real():
    # byte-identical re-decode across segment boundaries, and the
    # stream really contains RSTn markers
    img = _rand_img(24, 40, seed=37)
    payload = ja.encode_jpeg_arith(img, quality=90, restart_interval=1)
    assert any(
        bytes([0xFF, 0xD0 + k]) in payload for k in range(8)
    )
    huff = mm.decode_jpeg(mm.encode_jpeg(img, quality=90))
    assert np.array_equal(ja.decode_jpeg_arith(payload), huff)


def test_edge_geometries():
    # non-multiple-of-8/16 dims exercise the pad/ceil grids in both
    # the MCU-interleaved and the component-grid paths
    for (h, w) in [(1, 1), (8, 8), (7, 9), (9, 23), (16, 17)]:
        img = _rand_img(h, w, seed=h * 31 + w)
        for kw in (dict(), dict(subsample=2), dict(progressive=True)):
            out = ja.decode_jpeg_arith(
                ja.encode_jpeg_arith(img, quality=92, **kw)
            )
            assert out.shape == (h, w, 3), (h, w, kw)


# ------------------------------------------ property + fuzz hardening


def test_qm_roundtrip_hypothesis_property():
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=60,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        st.lists(
            st.tuples(st.integers(0, 7), st.integers(0, 1)),
            min_size=1,
            max_size=1200,
        )
    )
    def roundtrip(bits):
        nctx = 8
        st_e = bytearray(nctx)
        enc = ja._QMEncoder()
        for c, d in bits:
            enc.encode(st_e, c, d)
        data = _destuff(enc.flush())
        st_d = bytearray(nctx)
        dec = ja._QMDecoder(data)
        assert [dec.decode(st_d, c) for c, _ in bits] == \
            [d for _, d in bits]
        assert st_d == st_e  # estimation machines stayed in lockstep

    roundtrip()


def test_byte_flip_fuzz_never_hangs_or_leaks():
    # the hook-routability contract (codec clause 4 analog): a
    # corrupted arithmetic stream must decode to SOMETHING valid or
    # raise ValueError/NotImplementedError — never another exception
    # type, never an unbounded loop. The QM decoder feeds zeros past
    # segment end and the magnitude chains cap at 0x8000, so every
    # walk terminates; this fuzz pins that end-to-end.
    rng = random.Random(99)
    img = _rand_img(14, 18, seed=41)
    base = [
        ja.encode_jpeg_arith(img, quality=92),
        ja.encode_jpeg_arith(img, quality=92, progressive=True),
        ja.encode_jpeg_arith(img, quality=92, restart_interval=2),
    ]
    outcomes = {"ok": 0, "valueerror": 0, "notimpl": 0}
    for _ in range(120):
        payload = bytearray(rng.choice(base))
        for _ in range(rng.randint(1, 3)):
            payload[rng.randrange(2, len(payload))] = rng.randrange(256)
        try:
            out = ja.decode_jpeg_arith(bytes(payload))
            assert out.dtype == np.uint8 and out.ndim == 3
            outcomes["ok"] += 1
        except ValueError:
            outcomes["valueerror"] += 1
        except NotImplementedError:
            outcomes["notimpl"] += 1
    # corruption must actually be detected sometimes; silent-garbage-
    # only would mean the error contracts never fire
    assert outcomes["valueerror"] > 0
    assert sum(outcomes.values()) == 120


def test_every_truncation_raises_value_error():
    # codec contract clause 4 for the direct entry point too: a cut
    # header, table or scan raises ValueError, never the IndexError or
    # struct.error of wherever the bytes ran out
    img = _rand_img(5, 7, seed=3)
    for kw in ({}, {"progressive": True}, {"restart_interval": 1},
               {"depth": 12, "subsample": 2}):
        payload = ja.encode_jpeg_arith(img, **kw)
        full = ja.decode_jpeg_arith(payload)
        for cut in range(len(payload)):
            try:
                out = ja.decode_jpeg_arith(payload[:cut])
            except (ValueError, NotImplementedError):
                continue
            assert np.array_equal(out, full), (kw, cut)

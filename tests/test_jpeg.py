"""Stdlib baseline JPEG codec (operators/multimodal.py encode_jpeg /
decode_jpeg): huffman entropy coding, Annex K tables, orthonormal
matrix IDCT, generic sampling factors, restart markers — the lossy
compressed container every production image-dedup job meets first.
Reference behavior: ITU T.81 / ISO 10918-1 (public spec)."""

import struct

import numpy as np
import pytest

import ceres_spark.operators.multimodal as mm


def _psnr(a, b):
    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 10 * np.log10(255**2 / max(mse, 1e-12))


def _gradient(h=48, w=64):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [(yy * 4) % 256, (xx * 3) % 256, ((yy + xx) * 2) % 256], axis=2
    ).astype(np.uint8)


@pytest.mark.parametrize("subsample", [1, 2])
@pytest.mark.parametrize("quality", [95, 85, 60])
def test_roundtrip_psnr(subsample, quality):
    img = _gradient()
    out = mm.decode_jpeg(
        mm.encode_jpeg(img, quality=quality, subsample=subsample)
    )
    assert out.shape == img.shape and out.dtype == np.uint8
    # smooth content: baseline JPEG holds >40 dB even at q60 4:2:0
    floor = {95: 46, 85: 43, 60: 40}[quality]
    assert _psnr(out, img) > floor


def test_uniform_image_roundtrips_exactly():
    # a flat block is pure DC — quantization loses nothing
    flat = np.full((16, 24, 3), 130, np.uint8)
    assert (mm.decode_jpeg(mm.encode_jpeg(flat, 90)) == flat).all()


def test_noise_survives_q95():
    rng = np.random.default_rng(7)
    noise = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    assert _psnr(mm.decode_jpeg(mm.encode_jpeg(noise, 95)), noise) > 30


@pytest.mark.parametrize("subsample", [1, 2])
@pytest.mark.parametrize("ri", [1, 3, 7])
def test_restart_markers_do_not_change_pixels(subsample, ri):
    # RSTn resets predictors + byte-aligns; the decoded coefficients
    # are identical to the unsegmented stream
    img = _gradient()
    with_rst = mm.decode_jpeg(
        mm.encode_jpeg(img, 90, subsample=subsample, restart_interval=ri)
    )
    without = mm.decode_jpeg(mm.encode_jpeg(img, 90, subsample=subsample))
    assert np.array_equal(with_rst, without)


def test_grayscale_single_component_replicated():
    yy, xx = np.mgrid[0:24, 0:40]
    g = ((yy * 5 + xx * 3) % 256).astype(np.uint8)
    out = mm.decode_jpeg(mm.encode_jpeg(g, 92))
    assert out.shape == (24, 40, 3)
    assert np.array_equal(out[:, :, 0], out[:, :, 1])
    assert np.array_equal(out[:, :, 1], out[:, :, 2])
    assert _psnr(out[:, :, 0], g) > 40


def test_non_mcu_aligned_dimensions_crop_back():
    # 4:2:0 MCU is 16x16; 19x13 forces edge padding + crop
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (13, 19, 3), dtype=np.uint8)
    for ss in (1, 2):
        out = mm.decode_jpeg(mm.encode_jpeg(img, 95, subsample=ss))
        assert out.shape == img.shape


def test_decode_real_routes_jpeg():
    img = _gradient(16, 16)
    kind, px = mm.decode_real(mm.encode_jpeg(img, 95), "image")
    assert kind == "image" and px.shape == img.shape
    # near the source (lossy, not garbled)
    assert _psnr(px, img) > 40


def test_differential_hierarchy_raises_loud_gap():
    # r8: the arithmetic DCT processes (SOF9/SOF10) decode built-in
    # now (test_jpeg_arith.py) — the remaining coding-process gaps
    # are the differential hierarchy (SOF5-7/13-15) and lossless-
    # arithmetic (SOF11): recognized container, unsupported process
    # → NotImplementedError so the codec-hook chain can claim it
    for marker in (0xC5, 0xC6, 0xC7, 0xCD):
        p = bytearray(mm.encode_jpeg(_gradient(8, 8), 90))
        i = bytes(p).find(b"\xff\xc0")
        p[i + 1] = marker
        with pytest.raises(NotImplementedError):
            mm.decode_jpeg(bytes(p))


def test_not_a_jpeg_raises_value_error():
    with pytest.raises(ValueError):
        mm.decode_jpeg(b"\x89PNG\r\n\x1a\nnope")
    with pytest.raises(ValueError):
        mm.decode_jpeg(b"")


def test_missing_sof_raises():
    with pytest.raises(ValueError):
        mm.decode_jpeg(b"\xff\xd8\xff\xe0" + struct.pack(">H", 2))


def test_phash_planted_neardups_across_jpeg(spark):
    # the planted-pair scenario through the REAL Spark pipeline with
    # JPEG containers: a near-dup must survive lossy compression, and
    # the same image as PPM vs JPEG q95 must land within the band
    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    tweak = base.copy()
    tweak[:2, :2] = 0
    other = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    assets = spark.createDataFrame(
        [(1, "image", bytearray(mm.encode_jpeg(base, 95))),
         (2, "image", bytearray(mm.encode_jpeg(tweak, 95))),
         (3, "image", bytearray(mm.encode_jpeg(other, 95))),
         (4, "image", bytearray(mm.encode_ppm(base)))],
        "asset_id long, modality string, payload binary",
    )
    pairs = {(r["asset_a"], r["asset_b"])
             for r in mm.phash_pairs(
                 assets, max_hamming=6, allow_weak_blocking=True
             ).collect()}
    assert (1, 2) in pairs          # planted near-dup, both JPEG
    assert (1, 4) in pairs          # container-invariance: PPM≈JPEG
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_real_assets_cycle_includes_jpeg(spark):
    # doc_id%12==9 ships baseline JPEG; decoded pixels near the tile
    docs = spark.createDataFrame(
        [(9, "theta iota kappa " * 10), (21, "lambda mu " * 25)],
        "doc_id long, text string",
    )
    rows = {r["asset_id"]: bytes(r["payload"])
            for r in mm.real_assets_from_documents(docs).collect()}
    for did, txt in [(9, "theta iota kappa " * 10),
                     (21, "lambda mu " * 25)]:
        assert rows[did][:3] == b"\xff\xd8\xff"
        raw = np.frombuffer(txt.encode(), np.uint8)
        w = 16 + len(raw) % 17
        h = 16 + (len(raw) * 7) % 13
        expect = np.resize(raw, (h, w, 3))
        got = mm.decode_jpeg(rows[did])
        assert got.shape == expect.shape
        # text-byte tiles are near-noise (every pixel a different
        # letter), the worst case for DCT coding — ~20 dB at q95
        # 4:2:0 is expected and plenty for fingerprinting
        assert _psnr(got, expect) > 15


def test_reencode_twins_full_recall_at_production_dial(spark):
    # every planted cross-container twin must pair with its original
    # at max_hamming=6 with NO weak-blocking opt-in — the registry
    # entry's contract
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(60)
    assets = mm.real_assets_from_documents(docs)
    twins = mm.reencode_images(
        assets.filter("asset_id % 12 = 0"), quality=95
    )
    planted = {r["asset_id"] for r in twins.collect()}
    assert planted  # fixture actually planted something
    pairs = {(r["asset_a"], r["asset_b"]) for r in
             mm.phash_pairs(
                 assets.unionByName(twins), max_hamming=6
             ).collect()}
    for tid in planted:
        # twin ids mirror into the negative space (-orig - 1), so the
        # canonical a < b pair is (twin, original)
        assert (tid, -tid - 1) in pairs, tid


def test_fill_bytes_before_markers_are_skipped():
    # T.81 B.1.1.2: 0xFF fill bytes may pad any marker — splice some
    # in front of the DQT and SOS markers of a valid stream
    img = _gradient(16, 16)
    p = mm.encode_jpeg(img, 90)
    base = mm.decode_jpeg(p)
    i_dqt = p.find(b"\xff\xdb")
    i_sos = p.find(b"\xff\xda")
    padded = (p[:i_dqt] + b"\xff\xff" + p[i_dqt:i_sos]
              + b"\xff\xff\xff" + p[i_sos:])
    assert np.array_equal(mm.decode_jpeg(padded), base)


def test_gray_with_22_sampling_decodes_noninterleaved():
    # gray JPEGs often declare 2x2 sampling; a single-component scan
    # is non-interleaved (one block per MCU), so pixels must match
    # the 1x1-declared encode exactly
    yy, xx = np.mgrid[0:24, 0:40]
    g = ((yy * 5 + xx * 3) % 256).astype(np.uint8)
    p = bytearray(mm.encode_jpeg(g, 92))
    i = bytes(p).find(b"\xff\xc0")
    # SOF0 payload: len(2) prec(1) h(2) w(2) nc(1) then cid,hv,tq
    assert p[i + 9] == 1  # single component
    assert p[i + 11] == 0x11
    p[i + 11] = 0x22  # declare 2x2 sampling
    assert np.array_equal(
        mm.decode_jpeg(bytes(p)), mm.decode_jpeg(mm.encode_jpeg(g, 92))
    )


def test_golden_bytes_pin_codec_conventions():
    # Regression pin: the encoder's byte stream and the decoder's
    # pixel output for a fixed 8x8 color ramp are frozen here. The
    # constants (zigzag, Annex K quant + huffman tables, BT.601
    # matrix, IJG quality rule) were hand-verified against ITU T.81
    # once; this pin makes any future drift — including a SYMMETRIC
    # encoder+decoder convention swap that a roundtrip test cannot
    # see — a loud failure. (No external libjpeg exists in this
    # container to produce independent golden files; the channel
    # asserts below at least pin the Cb/Cr orientation.)
    import hashlib

    yy, xx = np.mgrid[0:8, 0:8]
    img = np.stack(
        [yy * 30 % 256, xx * 30 % 256, (yy + xx) * 15 % 256], axis=2
    ).astype(np.uint8)
    p = mm.encode_jpeg(img, quality=90)
    assert hashlib.sha256(p).hexdigest() == (
        "0cac5e06e79f1b7f8db1e8de20fc669cc893281b3722f2df627687ce17a24266"
    )
    out = mm.decode_jpeg(p)
    # channel-distinct corners: green-ish top-right, red-ish
    # bottom-left — a Cb/Cr swap or RGB/BGR flip breaks these
    assert out[0, 7].tolist() == [1, 209, 103]
    assert out[7, 0].tolist() == [209, 1, 107]
    # pure red survives exactly at q95 (DC-only per channel)
    red = np.zeros((8, 8, 3), np.uint8)
    red[:, :, 0] = 255
    assert mm.decode_jpeg(mm.encode_jpeg(red, 95))[4, 4].tolist() == [
        255, 0, 0,
    ]


# ------------------------------------ multi-scan sequential (r6)

def test_multiscan_pixels_equal_interleaved():
    # same quantized coefficients, different scan layout — the
    # decoded pixels must be IDENTICAL (VERDICT r5 #8 conformance:
    # the encoder twin proves the multi-scan walk reads the same
    # blocks the interleaved walk does)
    rng = np.random.default_rng(5)
    for (h, w) in [(16, 16), (17, 23), (40, 56), (8, 8), (33, 31)]:
        for sub in (1, 2):
            for ri in (0, 3):
                px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
                a = mm.decode_jpeg(mm.encode_jpeg(
                    px, 90, sub, ri, scans="interleaved"))
                b = mm.decode_jpeg(mm.encode_jpeg(
                    px, 90, sub, ri, scans="separate"))
                assert np.array_equal(a, b), (h, w, sub, ri)


def test_multiscan_truncated_raises_value_error():
    # a 3-component frame whose stream ends after the Y scan is
    # MALFORMED (not a variant gap): ValueError, not a silent
    # gray image and not NotImplementedError
    full = mm.encode_jpeg(
        np.zeros((16, 16, 3), np.uint8), 90, scans="separate")
    i1 = full.index(b"\xff\xda")
    i2 = full.index(b"\xff\xda", i1 + 2)
    with pytest.raises(ValueError, match="before all components"):
        mm.decode_jpeg(full[:i2] + b"\xff\xd9")


def test_multiscan_is_mainstream_shape():
    # three SOS markers, each a single-component scan
    p = mm.encode_jpeg(
        np.arange(768, dtype=np.uint8).reshape(16, 16, 3),
        90, scans="separate")
    sos = []
    i = 0
    while True:
        j = p.find(b"\xff\xda", i)
        if j < 0:
            break
        sos.append(p[j + 4])  # ns byte of the SOS header
        i = j + 2
    assert sos == [1, 1, 1]


def test_multiscan_with_restarts_and_chroma_subsampling():
    # 4:2:0 multi-scan with restart markers: per-scan MCU counting
    # over the T.81 A.2.2 non-interleaved grids
    yy, xx = np.mgrid[0:24, 0:40]
    px = np.stack(
        [(xx * 9) % 256, (yy * 5) % 256, ((xx * yy) // 3) % 256],
        axis=2,
    ).astype(np.uint8)
    a = mm.decode_jpeg(mm.encode_jpeg(px, 85, 2, 2, scans="separate"))
    b = mm.decode_jpeg(mm.encode_jpeg(px, 85, 2, 2, scans="interleaved"))
    assert np.array_equal(a, b)
    # and the separate stream really contains RSTn markers
    p = mm.encode_jpeg(px, 85, 2, 2, scans="separate")
    assert any(bytes([0xFF, 0xD0 + k]) in p for k in range(8))


# --------------------------------------- progressive DCT (r6)

def test_progressive_pixels_equal_baseline():
    # same quantized coefficients through the Annex G scan script
    # (DC first Al=1 -> per-comp AC first with EOB runs -> AC
    # refinement -> DC refinement) must reconstruct IDENTICAL pixels
    # to the baseline layout
    rng = np.random.default_rng(11)
    for (h, w) in [(8, 8), (17, 23), (40, 56), (33, 31)]:
        for sub in (1, 2):
            px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            a = mm.decode_jpeg(mm.encode_jpeg(px, 90, sub, 0,
                                              scans="interleaved"))
            b = mm.decode_jpeg(mm.encode_jpeg(px, 90, sub, 0,
                                              scans="progressive"))
            assert np.array_equal(a, b), (h, w, sub)


def test_progressive_eob_runs_across_blocks():
    # a near-constant image makes most blocks AC-empty: multi-block
    # EOB runs (EOBn symbols, n >= 1) in both first and refinement
    # scans — the path the flat custom DHT exists for
    px = np.full((64, 64, 3), 127, np.uint8)
    px[0, 0] = 130
    p = mm.encode_jpeg(px, 85, 1, 0, scans="progressive")
    assert b"\xff\xc2" in p  # SOF2
    base = mm.decode_jpeg(mm.encode_jpeg(px, 85, 1, 0))
    assert np.array_equal(mm.decode_jpeg(p), base)


def test_progressive_is_sof2_with_multiple_scans():
    p = mm.encode_jpeg(
        np.arange(768, dtype=np.uint8).reshape(16, 16, 3),
        90, scans="progressive")
    assert p.index(b"\xff\xc2") < p.index(b"\xff\xda")
    n_sos = p.count(b"\xff\xda")
    assert n_sos == 8  # DC first + 3x AC first + 3x AC refine + DC refine


def test_progressive_dc_only_prefix_decodes():
    # successive approximation means a stream truncated after the
    # first (DC) scan is still a decodable approximation — cut after
    # scan 1 and append EOI; decoded blocks are flat DC values
    px = np.full((16, 16, 3), 99, np.uint8)
    p = mm.encode_jpeg(px, 90, 1, 0, scans="progressive")
    i1 = p.index(b"\xff\xda")
    i2 = p.index(b"\xff\xda", i1 + 2)
    out = mm.decode_jpeg(p[:i2] + b"\xff\xd9")
    assert out.shape == (16, 16, 3)
    # DC-only at Al=1 of a constant image is within quant error
    assert np.abs(out.astype(int) - 99).max() <= 4


def test_progressive_restart_rejected_by_encoder():
    with pytest.raises(ValueError, match="restart"):
        mm.encode_jpeg(np.zeros((8, 8, 3), np.uint8), 90, 1, 2,
                       scans="progressive")


# ---------------------------------------- lossless (SOF3, r7)

def _rand_img(h, w, seed=5, chans=3):
    rng = np.random.RandomState(seed)
    shape = (h, w, chans) if chans else (h, w)
    return rng.randint(0, 256, size=shape, dtype=np.uint8)


def test_lossless_roundtrip_every_predictor():
    img = _rand_img(13, 17)
    for sel in range(1, 8):
        out = mm.decode_jpeg(mm.encode_jpeg_lossless(img, predictor=sel))
        assert np.array_equal(out, img), sel  # LOSSLESS: bit-exact


def test_lossless_gray_and_scan_layouts():
    g = _rand_img(9, 11, seed=8, chans=0)
    out = mm.decode_jpeg(mm.encode_jpeg_lossless(g))
    assert np.array_equal(out, np.repeat(g[:, :, None], 3, axis=2))
    img = _rand_img(7, 5, seed=9)
    a = mm.decode_jpeg(mm.encode_jpeg_lossless(img, interleaved=True))
    b = mm.decode_jpeg(mm.encode_jpeg_lossless(img, interleaved=False))
    assert np.array_equal(a, img) and np.array_equal(b, img)


def test_lossless_precision_widening_strips_exactly():
    img = _rand_img(6, 10, seed=11)
    for prec in (8, 12, 16):
        out = mm.decode_jpeg(
            mm.encode_jpeg_lossless(img, precision=prec, predictor=7)
        )
        assert np.array_equal(out, img), prec  # left-shift widen ∘ strip


def test_lossless_point_transform_quantizes_low_bits():
    img = _rand_img(5, 7, seed=13)
    out = mm.decode_jpeg(
        mm.encode_jpeg_lossless(img, point_transform=2)
    )
    assert np.array_equal(out, (img >> 2) << 2)  # Pt drops 2 LSBs


def test_lossless_restart_markers_reset_prediction():
    img = _rand_img(8, 8, seed=17)
    out = mm.decode_jpeg(
        mm.encode_jpeg_lossless(img, restart_interval=5)
    )
    assert np.array_equal(out, img)


def test_lossless_category16_diff_roundtrips():
    # force the +32768 (no appended bits) code path: precision 16,
    # alternating 0x00/0xFF source bytes widen to 0/0xFF00 — with
    # predictor 1 the mod-2^16 diffs hit 32768 repeatedly
    img = np.zeros((2, 16, 3), np.uint8)
    img[:, 1::2] = 0x80  # widened diff = 0x8000 = 32768
    out = mm.decode_jpeg(mm.encode_jpeg_lossless(img, precision=16,
                                                 predictor=1))
    assert np.array_equal(out, img)


def test_lossless_decode_real_routes_and_loud_gaps():
    img = _rand_img(4, 6, seed=19)
    kind, px = mm.decode_real(mm.encode_jpeg_lossless(img), "image")
    assert kind == "image" and np.array_equal(px, img)
    # differential-hierarchy / lossless-arithmetic SOFs still fall
    # through loudly (SOF9/SOF10 decode built-in since r8)
    import struct
    for sof in (0xC5, 0xC6, 0xCB, 0xCF):
        payload = (b"\xff\xd8\xff" + bytes([sof])
                   + struct.pack(">H", 8) + bytes(6))
        with pytest.raises(NotImplementedError):
            mm.decode_jpeg(payload)


# ---------------------------------------- 12-bit precision (r7)

def test_depth12_sequential_matches_depth8_closely():
    img = _gradient(32, 40)
    d8 = mm.decode_jpeg(mm.encode_jpeg(img, quality=95))
    d12 = mm.decode_jpeg(mm.encode_jpeg(img, quality=95, depth=12))
    # same effective quantization (tables x16, samples x16): the two
    # decodes agree to within a couple of 8-bit LSBs everywhere
    assert _psnr(d8, d12) > 40
    assert _psnr(img, d12) > 30


def test_depth12_emits_sof1_and_16bit_dqt():
    p = mm.encode_jpeg(_gradient(16, 16), depth=12)
    assert b"\xff\xc1" in p and b"\xff\xc0" not in p
    # first DQT segment uses Pq=1 (0x10 | table id)
    i = p.index(b"\xff\xdb")
    assert p[i + 4] == 0x10
    assert p[i + 2] << 8 | p[i + 3] == 2 + 1 + 128  # len: id + 64 u16


def test_depth12_gray_subsample_restart_progressive():
    g = _gradient(24, 24)[:, :, 0]
    out = mm.decode_jpeg(mm.encode_jpeg(g, quality=95, depth=12))
    assert _psnr(np.repeat(g[:, :, None], 3, axis=2), out) > 30
    img = _gradient(24, 32)
    for kw in (dict(subsample=2), dict(restart_interval=2),
               dict(scans="separate"), dict(scans="progressive")):
        out = mm.decode_jpeg(
            mm.encode_jpeg(img, quality=95, depth=12, **kw))
        assert _psnr(img, out) > 28, kw


def test_depth12_vs_depth8_same_dialect_pixel_parity():
    # the r6 pixel-equality trick, one precision level up: a 12-bit
    # progressive and a 12-bit interleaved encode of the same source
    # must decode to nearly identical pixels (same coefficients, same
    # tables - only the scan layout differs)
    img = _rand_img(17, 23, seed=23)
    a = mm.decode_jpeg(mm.encode_jpeg(img, quality=90, depth=12))
    b = mm.decode_jpeg(mm.encode_jpeg(img, quality=90, depth=12,
                                      scans="progressive"))
    assert np.array_equal(a, b)


def test_unsupported_precision_still_loud():
    import struct
    payload = (b"\xff\xd8\xff\xc0" + struct.pack(">H", 9)
               + struct.pack(">BHHB", 10, 2, 2, 1) + bytes([1, 0x11, 0]))
    with pytest.raises(NotImplementedError):
        mm.decode_jpeg(payload)


# ------------------------------ hand-assembled SOF3 byte fixture (r8)
# ADVICE r7: the lossless paths were validated only against their
# in-repo encoder twin, so a twin-symmetric nonconformance (restart
# prediction reset per T.81 H.2.2, point-transform level handling)
# would cancel out and go undetected. These bytes are assembled by
# hand from the spec with expected pixels derived on paper —
# independent of encode_jpeg_lossless.

class _BitW:
    """MSB-first bit packer with JPEG 1-bit padding + byte stuffing."""

    def __init__(self):
        self.bits = []

    def put(self, value, n):
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)

    def tobytes(self):
        bs = bytearray()
        bits = self.bits + [1] * (-len(self.bits) % 8)
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i:i + 8]:
                b = (b << 1) | bit
            bs.append(b)
            if b == 0xFF:
                bs.append(0x00)
        return bytes(bs)


def _cat_bits(d):
    """(category, appended-bits value) per T.81 H.1.2.2."""
    if d == 0:
        return 0, 0
    s = abs(d).bit_length()
    return s, (d if d > 0 else d + (1 << s) - 1)


def test_lossless_handbuilt_restart_and_point_transform():
    # 2x4 grayscale SOF3, P=8, Pt=1, predictor 1 (left), DRI=4: the
    # restart lands exactly at the row seam, so sample (1,0) MUST
    # restart from the scan-start default 2^(P-Pt-1) = 64 (T.81
    # H.2.2) - a decoder that instead applies the first-column
    # predictor (b = above = 70) reconstructs 56<<1 = 112 there and
    # 58/60/57<<1 down the row; the encoder twin would mirror that
    # misreading, which is why these bytes are hand-assembled. Every
    # output pixel = reconstructed value << Pt.
    import struct

    diffs = [+6, -20, 0, +13, -14, +1, +2, -3]
    # Pt-domain planes: 64+6=70, 50, 50, 63 | restart: 64-14=50, 51,
    # 53, 50 -> output doubles them
    expect = np.array(
        [[140, 100, 100, 126], [100, 102, 106, 100]], dtype=np.uint8
    )

    def seg(ds):
        w = _BitW()
        for d in ds:
            s, v = _cat_bits(d)
            w.put(s, 5)  # flat canonical 5-bit table: code == category
            if s:
                w.put(v, s)
        return w.tobytes()

    dht = (
        bytes([0x00])
        + bytes([0, 0, 0, 0, 17] + [0] * 11)
        + bytes(range(17))
    )
    payload = b"".join([
        b"\xff\xd8",
        b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht,
        b"\xff\xc3" + struct.pack(">HBHHB", 11, 8, 2, 4, 1)
        + bytes([1, 0x11, 0]),
        b"\xff\xdd" + struct.pack(">HH", 4, 4),
        b"\xff\xda" + struct.pack(">H", 8)
        + bytes([1, 1, 0x00, 1, 0, 0x01]),   # ns=1, c1/t0, Ss=1, Al=1
        seg(diffs[:4]),
        b"\xff\xd0",
        seg(diffs[4:]),
        b"\xff\xd9",
    ])
    out = mm.decode_jpeg(payload)
    assert out.shape == (2, 4, 3)
    for c in range(3):
        assert np.array_equal(out[:, :, c], expect), c


def test_codec_skeleton_has_one_owner():
    """The frame header parse, the 0xFF00 de-stuffing branch and the
    YCbCr->RGB epilogue are written once across the Huffman, lossless
    and arithmetic decoders: each entropy layer plugs into the same
    marker walk instead of carrying its own copy."""
    import ceres_spark.operators.jpeg_arith as ja

    src = "".join(open(m.__file__).read() for m in (mm, ja))
    for needle in ('struct.unpack(">BHHB"', "nxt == 0x00", "1.402"):
        assert src.count(needle) == 1, (needle, src.count(needle))

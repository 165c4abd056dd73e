"""Golden identity of the JPEG codec family: exact bytes, not tolerances.

Every dialect the in-repo encoders produce — Huffman baseline,
separate-scan, progressive, 12-bit, grayscale, 4:2:0 and restart
intervals; arithmetic SOF9/SOF10 at 8 and 12 bit with non-default
DAC conditioning; lossless SOF3 with predictors 1..7, point
transforms and precisions other than 8 — is encoded from seeded
pixels, and the sha256 of the encoder's output AND of the decoded
pixel array is pinned. The round-trip suites (test_jpeg.py,
test_jpeg_arith.py) check PSNR floors and twin equality; this file
is what catches a refactor that shifts one coefficient or one byte.

Regenerate the table (only when a codec change is MEANT to alter
output) with ``python tests/test_jpeg_golden.py``.
"""

import hashlib
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import ceres_spark.operators.jpeg_arith as ja  # noqa: E402
import ceres_spark.operators.multimodal as mm  # noqa: E402


def _images():
    rng = np.random.default_rng(20261018)
    noise = rng.integers(0, 256, (13, 19, 3), dtype=np.uint8)
    yy, xx = np.mgrid[0:26, 0:21]
    smooth = np.stack(
        [(yy * 9) % 256, (xx * 11) % 256, ((yy + 2 * xx) * 5) % 256],
        axis=2,
    ).astype(np.int64)
    smooth = np.clip(
        smooth + rng.integers(-12, 13, smooth.shape), 0, 255
    ).astype(np.uint8)
    return noise, smooth


def _cases():
    """{name: (payload builder, is_arithmetic)} — the dialect matrix."""
    n, s = _images()
    g = s[:, :, 1]
    ej, ea, el = mm.encode_jpeg, ja.encode_jpeg_arith, mm.encode_jpeg_lossless
    huff = {
        "h_base_q85": lambda: ej(s, 85),
        "h_base_q5": lambda: ej(n, 5),
        "h_base_q100": lambda: ej(n, 100),
        "h_420": lambda: ej(s, 75, subsample=2),
        "h_420_noise": lambda: ej(n, 90, subsample=2),
        "h_rst1": lambda: ej(s, 85, restart_interval=1),
        "h_rst2_420": lambda: ej(n, 60, subsample=2, restart_interval=2),
        "h_rst5": lambda: ej(n, 95, restart_interval=5),
        "h_sep": lambda: ej(s, 85, scans="separate"),
        "h_sep_420_rst3": lambda: ej(
            n, 70, subsample=2, scans="separate", restart_interval=3
        ),
        "h_prog": lambda: ej(n, 85, scans="progressive"),
        "h_prog_420": lambda: ej(s, 50, subsample=2, scans="progressive"),
        "h_12": lambda: ej(n, 85, depth=12),
        "h_12_420_rst2": lambda: ej(
            s, 30, subsample=2, restart_interval=2, depth=12
        ),
        "h_12_sep": lambda: ej(n, 90, scans="separate", depth=12),
        "h_12_prog": lambda: ej(n, 95, scans="progressive", depth=12),
        "h_12_prog_420": lambda: ej(
            s, 10, subsample=2, scans="progressive", depth=12
        ),
        "h_gray": lambda: ej(g, 85),
        "h_gray_rst2": lambda: ej(n[:, :, 0], 40, restart_interval=2),
        "h_gray_prog": lambda: ej(g, 80, scans="progressive"),
        "h_gray_12": lambda: ej(n[:, :, 2], 99, depth=12),
    }
    arith = {
        "a_seq": lambda: ea(n, 85),
        "a_seq_q5": lambda: ea(s, 5),
        "a_420": lambda: ea(s, 75, subsample=2),
        "a_rst1": lambda: ea(n, 90, restart_interval=1),
        "a_rst3_420": lambda: ea(s, 60, subsample=2, restart_interval=3),
        "a_prog": lambda: ea(n, 85, progressive=True),
        "a_prog_420": lambda: ea(s, 95, subsample=2, progressive=True),
        "a_12": lambda: ea(n, 85, depth=12),
        "a_12_prog": lambda: ea(s, 40, progressive=True, depth=12),
        "a_12_420_rst2": lambda: ea(
            n, 70, subsample=2, restart_interval=2, depth=12
        ),
        "a_dac": lambda: ea(n, 90, dc_cond=(2, 5), ac_kx=17),
        "a_dac_prog_420": lambda: ea(
            s, 80, subsample=2, progressive=True, dc_cond=(1, 3), ac_kx=3
        ),
        "a_dac_12": lambda: ea(n, 95, depth=12, dc_cond=(0, 7), ac_kx=63),
        "a_gray": lambda: ea(g, 85),
        "a_gray_prog_12": lambda: ea(
            n[:, :, 1], 65, progressive=True, depth=12
        ),
        "a_gray_dac_rst2": lambda: ea(
            g, 85, restart_interval=2, dc_cond=(3, 4), ac_kx=1
        ),
    }
    # a gray-content column whose 12-bit q5 decode puts one pixel on an
    # exact .5 tie: pins how each process's IDCT rounds
    tie = np.repeat(np.frombuffer(bytes.fromhex(
        "3270c145c28e1af0ae8ae3f372cff6b8ea250d535a9d833b6e0a43696a2d47"
        "573bf0ab9377f2b3"
    ), np.uint8).reshape(39, 1, 1), 3, axis=2)
    huff["h_tie_seq"] = lambda: ej(tie, 5, depth=12)
    huff["h_tie_prog"] = lambda: ej(tie, 5, scans="progressive", depth=12)
    arith["a_tie"] = lambda: ea(tie, 5, depth=12)
    arith["a_tie_prog"] = lambda: ea(tie, 5, progressive=True, depth=12)
    ls_img, ls_g = n[:7, :9], g[:8, :11]
    loss = {f"l_p{p}": (lambda p=p: el(ls_img, predictor=p))
            for p in range(1, 8)}
    loss.update({
        "l_pt2": lambda: el(ls_img, predictor=4, point_transform=2),
        "l_prec12": lambda: el(ls_img, predictor=7, precision=12),
        "l_prec16_pt3": lambda: el(
            ls_img, predictor=5, precision=16, point_transform=3
        ),
        "l_sep": lambda: el(ls_img, predictor=6, interleaved=False),
        "l_rst4": lambda: el(ls_img, predictor=2, restart_interval=4),
        "l_sep_rst3_prec10": lambda: el(
            ls_img, predictor=3, precision=10, interleaved=False,
            restart_interval=3,
        ),
        "l_gray": lambda: el(ls_g, predictor=1),
        "l_gray_prec9_pt1": lambda: el(
            ls_g, predictor=4, precision=9, point_transform=1
        ),
    })
    out = {k: (f, False) for k, f in huff.items()}
    out.update({k: (f, True) for k, f in arith.items()})
    out.update({k: (f, False) for k, f in loss.items()})
    return out


def _sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


def _px_sha(a: "np.ndarray") -> str:
    return _sha(f"{a.shape}{a.dtype.str}".encode() + a.tobytes())


def _digest(name):
    build, arith = _cases()[name]
    payload = build()
    px = mm.decode_jpeg(payload)
    if arith:
        assert np.array_equal(ja.decode_jpeg_arith(payload), px)
    return _sha(payload), _px_sha(px)


GOLDEN = {
    "h_base_q85": (
        "ecb9601b26cdb3d51f3b64014e4ac9f433a815cbb75f9aac74c0d37f9d72d9d7",
        "efcab93892de0c209a4c71bb46af8d5a753b826da765bc195638d03f71c5c16b",
    ),
    "h_base_q5": (
        "18e4f07359efa1bf0e9da135fe0757ef10fcffffc2cb0b6931a7799617a84f69",
        "dfbf35784d4b3ab57789d3aeb2f06697429f14041edcc86ea6584b9fa64b5eb6",
    ),
    "h_base_q100": (
        "037bbccc3bdcdf4b1913229840622a56305186b71cbef93cc9bd8cab5868ef11",
        "0736275ed4fbeb41527e0768167a03f71b258e1493af3c4a1cb4a081afb5d300",
    ),
    "h_420": (
        "0fd98e7b62bbad44de5f5bd67f1e8b30e31614f3a650e9390bddcec747f70460",
        "f982a24c56bc3e258fcb17ad859b9f73cf474435d915eb8a19cc98210a0769a2",
    ),
    "h_420_noise": (
        "1d14ce747829150543ed5c809f097c2c51d52c71a17a4ab15cc9a5c0402b4fa4",
        "efb03f0552890337b865a602a96ad5d9c203b260f3ffb713d7978ac965fd41bc",
    ),
    "h_rst1": (
        "95da19ad8efb653b50d9c4c4caa17ac5c745a28070b4e58abf3b0db95a24d232",
        "efcab93892de0c209a4c71bb46af8d5a753b826da765bc195638d03f71c5c16b",
    ),
    "h_rst2_420": (
        "c834d0daa5a6a4b6b03430cc54459e98c727ad6fa3584feb9db5421c8b9254a0",
        "6aa0a21288eda9a414312f393be2a0ce13c5823fce36acb60cf6803d27b0b2b2",
    ),
    "h_rst5": (
        "cf3a3945e452700c42620cd4c8919a918f4a0ff3dbad33e5305d65b1ddc02112",
        "357ded8ea81aefdea4893cc78033b75b23c6476837abc87deeed9d292f24eb18",
    ),
    "h_sep": (
        "5f2ba33207b02382961446be583d6c8b4d58b20e2da0baa786721bbd8b854cb9",
        "efcab93892de0c209a4c71bb46af8d5a753b826da765bc195638d03f71c5c16b",
    ),
    "h_sep_420_rst3": (
        "947ba30cd1446daf628afbaed6b4c52db9fd45076fe5ecc359c3b7e8b88679e1",
        "026ae74ae0fbc894deb6c8c7afdd9b4aee0059886d4d9682b2f15add667da33a",
    ),
    "h_prog": (
        "0b2c4d6e85d6e2f0da7c5c16655bbb4d3da205480f0e7937c6c69278c3d05dbf",
        "350b55970d313e98c52a9885ec233b93ecfa6083274e4b30bb41cc4b051aecb7",
    ),
    "h_prog_420": (
        "c93edbf66f78e7a325f8932b29b47575cab37a9ed8f2b21f6012ffc1a904bcd0",
        "390994df14d23121fc9d5c40fd57df90bd7829d5aab8c67d3b31004fd6a839b5",
    ),
    "h_12": (
        "5bd56bde6ffba7e56fec8b63ad5676580b7dcccf368f498b57aa25351ff8d480",
        "350b55970d313e98c52a9885ec233b93ecfa6083274e4b30bb41cc4b051aecb7",
    ),
    "h_12_420_rst2": (
        "4dafb12660f1460e1198bf8becbc5cd0c5ec414f6f4db18d94c371c7581084d2",
        "935d4eaf351a790b64c67373d057d6ea49e674ad775be442a11042adbef1ca9d",
    ),
    "h_12_sep": (
        "3d82b88794f62ab4f4bad6f0db69a4ea51ab726d730aacf81fdefdd5475df0b0",
        "716dbbcc5ef643f96cd946087cf36fe82df01f4d396408543c6df9e5f5fa4d26",
    ),
    "h_12_prog": (
        "df1827ca3ed5848ce78e6bcf553c7d785f6db45705b43cdd68087d9b5af3c300",
        "357ded8ea81aefdea4893cc78033b75b23c6476837abc87deeed9d292f24eb18",
    ),
    "h_12_prog_420": (
        "cc136df35cb074ccd8af68bd9c198c8a45658857a75cd586216c0dc01d754f20",
        "89644d74f75ca63f9454fd0c996b44d45c6f2cba44c20e1cb4828d6ab79fc11c",
    ),
    "h_gray": (
        "2b8685a78c9c04c823f1adbd67d6581987330248310c808a9db61c1d2bc0bffc",
        "cf4cd4e3ee88f63aa33d51a45da10e22cd2303f4afe1a03e7797466e3c434e5f",
    ),
    "h_gray_rst2": (
        "f50e92b637a604f628559277b7ac81e254a44f806697e7c93f777f8edf1c5cc1",
        "fb5e8e55614a323f77354575ba4964b0b997245e97c8829240a9509c474ea892",
    ),
    "h_gray_prog": (
        "e14ab0a9a726ef144e95506081787c172410cf91a48b70c50319a48b9c020e62",
        "b04bf729ccb9a5a5bf9a6054fa9b399f1afb4606e03110aa8f02cd195f2d895e",
    ),
    "h_gray_12": (
        "1ce146770b602f7bb7e78610148a7b682714c8f8a67306cceefd5d3d82549934",
        "1d3c7190597061e24e8ffefd5685acd9982cafe8857bccaf765a51aa688fefbb",
    ),
    "h_tie_seq": (
        "08b4a8a6386542473f6b20d348b530941b9e2e5051465f49d157f34dcd165b57",
        "6c0536015a205ccb064c6bf189c185b39c2af051f0c55576ed88af0dc0b292d1",
    ),
    "h_tie_prog": (
        "7f24a62df6996ac504231cc89d92f39143eeb62485f4aeee68c94cc4bb0bd82b",
        "5bffa876de5d49cab6072f1c677248a3df16b4e84219d7852382bb76c147d244",
    ),
    "a_seq": (
        "345d0d52d0a17b135b6493cb442e303a316fcaafdc102ed53f85aaf4ea8d9e19",
        "350b55970d313e98c52a9885ec233b93ecfa6083274e4b30bb41cc4b051aecb7",
    ),
    "a_seq_q5": (
        "c9f497fbe337cf0589071306215bc1661a8247fad4b1e56caa8ae36239480937",
        "49538f39aadcbd5fab8ed21a50323fd62a0a21d90fc7e3449431b738472775a3",
    ),
    "a_420": (
        "427a05a0bb885b4410a0f17f94b6de93d8911f3ec2699510ae9d6917aa6e43dd",
        "f982a24c56bc3e258fcb17ad859b9f73cf474435d915eb8a19cc98210a0769a2",
    ),
    "a_rst1": (
        "2945d269ccdf88dccb0d90e44f8a94057fa2515ed9b25a21f311d2ce98afec7a",
        "716dbbcc5ef643f96cd946087cf36fe82df01f4d396408543c6df9e5f5fa4d26",
    ),
    "a_rst3_420": (
        "3fee3eae5768e474613dcc2ef8d426d081f33361d9e94be0f03fd2d4a3419a04",
        "11285e67015965460381be1b5165481f755c9e9062afc4a7bc770bef53ca8e27",
    ),
    "a_prog": (
        "228c8e2ebfe810f11eef3697915f539045d25cf6b3e1375501de182444802148",
        "350b55970d313e98c52a9885ec233b93ecfa6083274e4b30bb41cc4b051aecb7",
    ),
    "a_prog_420": (
        "41c6e59c294a43ae0ce09b89af49802a143a7e9c422203f3205335ff158a39de",
        "a949ba6a4162d96791645cc962fd92bbe9626a947a4a7ee4590071ada44367a8",
    ),
    "a_12": (
        "b6d2f0beb737e0dc01986cf2dea22e06c7ef2b741c19a25fb3f53bf442fd15de",
        "350b55970d313e98c52a9885ec233b93ecfa6083274e4b30bb41cc4b051aecb7",
    ),
    "a_12_prog": (
        "677e54f5f753f08b88860b72312061c3806c4b19281042742c19f20dff647abb",
        "af7d073b8053bcd35dc641fb95678c888dd2f94f995543281ed5777b0a2b751d",
    ),
    "a_12_420_rst2": (
        "e499e9d8d9b79153af449378a8d7abe72d7432fba2da2c479f12af4c6810a867",
        "026ae74ae0fbc894deb6c8c7afdd9b4aee0059886d4d9682b2f15add667da33a",
    ),
    "a_dac": (
        "085e06d692d52d22e6a9e887590367c8b5644fe44097c419f08482b76474dd20",
        "716dbbcc5ef643f96cd946087cf36fe82df01f4d396408543c6df9e5f5fa4d26",
    ),
    "a_dac_prog_420": (
        "2f31fd91db15301926fdd70a02ad133688ed2427ec9b18130d67702b844cfbd3",
        "6074c5df11641d3d7a29892f450534a2bcd4e483a09d938eb0030f394450856d",
    ),
    "a_dac_12": (
        "fb9c14ca1bb857967558db235e132dde411f0e8835e7a6e3808f774e5f3fb227",
        "357ded8ea81aefdea4893cc78033b75b23c6476837abc87deeed9d292f24eb18",
    ),
    "a_gray": (
        "642ddd1f5f96442b213fce4c88aa7199e223f2ce6d85edacaf102e28fc41f050",
        "cf4cd4e3ee88f63aa33d51a45da10e22cd2303f4afe1a03e7797466e3c434e5f",
    ),
    "a_gray_prog_12": (
        "42e6623819f4316d865c257cde1fb0eb2620ddea4c572c1370202d4ae5338b78",
        "ff4baa7776b4695e5087286fdd7220228904234131d55567c9b7e652254879ef",
    ),
    "a_gray_dac_rst2": (
        "df3ed9908300c4e58b6e8a5edd34e497ec638b8a1d0f784d8c4db79adab54c11",
        "cf4cd4e3ee88f63aa33d51a45da10e22cd2303f4afe1a03e7797466e3c434e5f",
    ),
    "a_tie": (
        "6b91baccb07456dfd08b0f89b9241da7b09ab94fa717c97d97b1574be4461fbc",
        "5bffa876de5d49cab6072f1c677248a3df16b4e84219d7852382bb76c147d244",
    ),
    "a_tie_prog": (
        "2d7ea729124fc6ae75cd10bb74badfd6dbe7ff11f9e14c426e570699e5d0dcb1",
        "5bffa876de5d49cab6072f1c677248a3df16b4e84219d7852382bb76c147d244",
    ),
    "l_p1": (
        "e3a4e8787cb84730c44ad843bf94e603af340939d578a1ac35f74a6e2f2e097b",
        "8484c74c32d1f4b5e9cdfaeccb2bcc39d68096652217a142ce8d31eb6d9f45bb",
    ),
    "l_p2": (
        "8dbca2112956fcecfd411871476f3120150cfd88ae7ebe4f7ba142fe88d7a73a",
        "8484c74c32d1f4b5e9cdfaeccb2bcc39d68096652217a142ce8d31eb6d9f45bb",
    ),
    "l_p3": (
        "c30cac30b8d276778e3f9f88305b3126cacf37d9cafd127b5010ee81b7fb1ec2",
        "8484c74c32d1f4b5e9cdfaeccb2bcc39d68096652217a142ce8d31eb6d9f45bb",
    ),
    "l_p4": (
        "17acd6b0c51f7fb8fc26198ce2dec4bcb9552f75def04d04bafd784562c84c86",
        "8484c74c32d1f4b5e9cdfaeccb2bcc39d68096652217a142ce8d31eb6d9f45bb",
    ),
    "l_p5": (
        "7ed25c04ae9cdd35e4ba437ecd6e9622a2bf10d9c901d2e5da0c868f0e79f574",
        "8484c74c32d1f4b5e9cdfaeccb2bcc39d68096652217a142ce8d31eb6d9f45bb",
    ),
    "l_p6": (
        "765972a730eab6dab46a7711391a56fec208db7055430999b39f83be680210b8",
        "8484c74c32d1f4b5e9cdfaeccb2bcc39d68096652217a142ce8d31eb6d9f45bb",
    ),
    "l_p7": (
        "99997f65730ff481d0305dd193a6106cbbf48d97f68d4b724a96aef09bf47ef7",
        "8484c74c32d1f4b5e9cdfaeccb2bcc39d68096652217a142ce8d31eb6d9f45bb",
    ),
    "l_pt2": (
        "759fb6f439b33781c87565b4069ca3eb625d4c9c444f0781327901ec3f421829",
        "bd85dfd9f6be9587a6a13cb6f4b3dd0b431601334266538f8fee534d3b67466f",
    ),
    "l_prec12": (
        "9f0329b73fc2da50ab01ce5dea6e7537dc2a0955ea9c4eb912142e6a917f841e",
        "8484c74c32d1f4b5e9cdfaeccb2bcc39d68096652217a142ce8d31eb6d9f45bb",
    ),
    "l_prec16_pt3": (
        "ee3701c4dcf6a0e9693712b4bbe9e5d32f5c65d858875e8ecce94d34f111b01c",
        "8484c74c32d1f4b5e9cdfaeccb2bcc39d68096652217a142ce8d31eb6d9f45bb",
    ),
    "l_sep": (
        "3d6eb6503462d81edde0f185f86f4db2949164b09a17f9b26eb83d0f767d6198",
        "8484c74c32d1f4b5e9cdfaeccb2bcc39d68096652217a142ce8d31eb6d9f45bb",
    ),
    "l_rst4": (
        "291350a3a3df41ec0466b3196a9e9022a469311eba4f7557974ec092c82a40ef",
        "8484c74c32d1f4b5e9cdfaeccb2bcc39d68096652217a142ce8d31eb6d9f45bb",
    ),
    "l_sep_rst3_prec10": (
        "808cdff75c83ac669524b542a27b563f86b8d6db48e7dcc62511d5b6fb7b48dc",
        "8484c74c32d1f4b5e9cdfaeccb2bcc39d68096652217a142ce8d31eb6d9f45bb",
    ),
    "l_gray": (
        "7376961fcb008ad069a5f8f402235312780f179794496131fc5f050c2204ebd2",
        "3a1aff4546f9576d0115d399915fe49e7b383ef2f423429a6229a9045038046f",
    ),
    "l_gray_prec9_pt1": (
        "387dc0c0cf9690839c9c25f91a05fdce785eb7c8049252bbb3148ac23ca3704d",
        "3a1aff4546f9576d0115d399915fe49e7b383ef2f423429a6229a9045038046f",
    ),
}


@pytest.mark.parametrize("name", sorted(_cases()))
def test_codec_output_is_byte_identical(name):
    assert _digest(name) == GOLDEN[name]


def test_golden_table_covers_the_whole_matrix():
    assert set(GOLDEN) == set(_cases())


def test_gray_progressive_is_a_progressive_frame():
    payload = _cases()["h_gray_prog"][0]()
    assert b"\xff\xc2" in payload  # SOF2
    assert b"\xff\xc0" not in payload  # no baseline fallback


if __name__ == "__main__":
    print("GOLDEN = {")
    for name in _cases():
        enc, dec = _digest(name)
        print(f'    "{name}": (\n        "{enc}",\n        "{dec}",\n    ),')
    print("}")

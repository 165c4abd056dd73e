"""The vendor codec walkthrough runs end-to-end (VERDICT r8 #5).

examples/vendor_codec_walkthrough.py is the copy-paste integration
script a third-party codec vendor starts from; this test executes it
against the session Spark and re-asserts the decode plumbing so doc
rot fails CI, not the vendor.
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import ceres_spark.operators.multimodal as mm  # noqa: E402
from examples.vendor_codec_walkthrough import (  # noqa: E402
    acme_codec,
    encode_acme_image,
    main,
    sample_payloads,
)


def test_walkthrough_end_to_end(spark):
    feats, phash = main(spark)
    assert set(feats) == {0, 1}
    assert feats[0]["modality"] == "image"
    assert feats[1]["modality"] == "audio"
    assert len(phash) == 1
    # registry is left clean
    assert acme_codec not in mm._CODECS


def test_acme_hook_is_itself_conformant_standalone(spark):
    from ceres_spark.operators.codec_contract import check_codec_contract

    samples, _, _ = sample_payloads()
    check_codec_contract(acme_codec, samples, spark)


def test_acme_decode_roundtrip_and_damage():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
    payload = encode_acme_image(img)
    kind, px = acme_codec(payload, "image")
    assert kind == "image" and np.array_equal(px, img)
    # foreign container: decline with None, never raise
    assert acme_codec(b"\x89PNG\r\n\x1a\nxxxx", "image") is None
    # damaged own container: ValueError, not garbage
    with pytest.raises(ValueError):
        acme_codec(payload[:-4], "image")

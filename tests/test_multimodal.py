"""Multimodal plumbing: schema/batch shape real, decode stubbed."""

import pytest
from pyspark.sql import functions as F

from aml_entity_resolution_assignment_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        ("m1", "image", b"\x89PNG-fake-bytes" * 20, "image/png", 64, 48, None),
        ("m2", "image", b"\xff\xd8jpeg-fake" * 50, "image/jpeg", 128, 128, None),
        ("m3", "video", b"\x00\x00ftyp-fake" * 100, "video/mp4", 320, 240, 4500),
        ("m4", "image", None, "image/png", 0, 0, None),
    ]
    return spark.createDataFrame(rows, M.MEDIA_SCHEMA).cache()


def test_extract_features_shapes(media):
    out = M.extract_media_features(media).collect()
    rows = {r["media_id"]: r for r in out}
    assert len(rows) == 4
    for mid, r in rows.items():
        assert len(r["feature"]) == M.FEATURE_DIM
    assert rows["m4"]["n_bytes"] == 0
    assert sum(rows["m1"]["feature"]) == pytest.approx(1.0, abs=1e-6)


def test_extract_features_deterministic(media):
    a = {r["media_id"]: list(r["feature"]) for r in M.extract_media_features(media).collect()}
    b = {
        r["media_id"]: list(r["feature"])
        for r in M.extract_media_features(media.repartition(4)).collect()
    }
    assert a == b


def test_real_decode_is_marked_not_implemented():
    with pytest.raises(NotImplementedError):
        M._decode_image(b"bytes")


def test_netpbm_decode_roundtrip_and_resize():
    import numpy as np

    from aml_entity_resolution_assignment_spark.operators.multimodal import (
        decode_netpbm, encode_pgm, encode_ppm, resize_nearest,
    )

    rng = np.random.Generator(np.random.PCG64(3))
    gray = rng.integers(0, 256, (7, 5), dtype=np.uint8)
    assert np.array_equal(decode_netpbm(encode_pgm(gray)), gray)
    rgb = rng.integers(0, 256, (6, 9, 3), dtype=np.uint8)
    assert np.array_equal(decode_netpbm(encode_ppm(rgb)), rgb)
    # comments + extra whitespace in header
    weird = b"P5\n# a comment\n 5   7 \n255\n" + gray.tobytes()
    assert np.array_equal(decode_netpbm(weird), gray)
    small = resize_nearest(rgb, 3, 3)
    assert small.shape == (3, 3, 3)
    assert np.array_equal(resize_nearest(gray, 7, 5), gray)  # identity


def test_real_image_features_through_spark(spark):
    import numpy as np

    from aml_entity_resolution_assignment_spark.operators.multimodal import (
        FEATURE_DIM, encode_pgm, extract_media_features,
    )

    rng = np.random.Generator(np.random.PCG64(9))
    rows = []
    for i in range(8):
        img = rng.integers(0, 256, (16, 12), dtype=np.uint8)
        rows.append((f"m{i}", "image", bytearray(encode_pgm(img)), "image/x-pgm", 12, 16, None))
    rows.append(("mnull", "image", None, "image/x-pgm", 0, 0, None))
    rows.append(("aud0", "audio", bytearray(b"\x01\x02\x03" * 50), "audio/raw", None, None, 1500))
    media = spark.createDataFrame(
        rows,
        "media_id string, kind string, payload binary, mime string, "
        "width int, height int, duration_ms long",
    )
    out = extract_media_features(media, deterministic_fake=False).collect()
    by_id = {r["media_id"]: r for r in out}
    assert len(by_id) == 10
    for i in range(8):
        f = np.array(by_id[f"m{i}"]["feature"])
        assert f.shape == (FEATURE_DIM,)
        assert (f >= 0).all() and (f <= 1).all() and f.std() > 0
    assert np.allclose(by_id["mnull"]["feature"], 0.0)
    assert len(by_id["aud0"]["feature"]) == FEATURE_DIM  # histogram fallback

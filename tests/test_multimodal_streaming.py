"""Multimodal binary-column plumbing (``operators/multimodal.py``)."""

from __future__ import annotations

from crawler_spark.operators.multimodal import (
    decode_image_features,
    encode_stub_image,
    frame_sample_plan,
)


def test_image_decode_plumbing(spark):
    rows = [
        {"key": f"img{i}", "image": encode_stub_image(f"img{i}", 16 + i, 8)}
        for i in range(20)
    ]
    rows.append({"key": "broken", "image": b"NOTANIMAGE"})
    rows.append({"key": "null", "image": None})
    df = spark.createDataFrame(rows, "key string, image binary")

    feats = decode_image_features(df).collect()
    by_key = {r["key"]: r for r in feats}
    assert len(feats) == 22
    assert by_key["img0"]["valid"] and by_key["img0"]["width"] == 16
    assert by_key["img3"]["height"] == 8
    assert not by_key["broken"]["valid"] and by_key["broken"]["phash"] is None
    assert not by_key["null"]["valid"] and by_key["null"]["n_bytes"] == 0
    # determinism: same key → same features
    again = {r["key"]: r for r in decode_image_features(df).collect()}
    assert again["img5"]["phash"] == by_key["img5"]["phash"]
    assert again["img5"]["mean_luma"] == by_key["img5"]["mean_luma"]


def test_image_decode_real_codec_when_pillow_present(spark):
    """With Pillow importable the SAME kernel decodes real formats: a PNG's
    width/height/mean must come back exact. Skipped in this sandbox (no
    Pillow); on a deployed cluster it runs with zero code change."""
    import pytest

    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    import numpy as np

    buf = io.BytesIO()
    arr = np.tile(np.arange(24, dtype=np.uint8) * 10, (16, 1))  # 24x16 gradient
    PIL_Image.fromarray(arr, mode="L").save(buf, format="PNG")
    png = buf.getvalue()

    df = spark.createDataFrame(
        [{"key": "png", "image": png}, {"key": "junk", "image": b"NOTANIMAGE"}],
        "key string, image binary",
    )
    by_key = {r["key"]: r for r in decode_image_features(df).collect()}
    assert by_key["png"]["valid"] and (by_key["png"]["width"], by_key["png"]["height"]) == (24, 16)
    assert abs(by_key["png"]["mean_luma"] - float(arr.mean())) < 1e-6
    assert by_key["png"]["phash"]
    assert not by_key["junk"]["valid"]


def test_frame_sampling_plan(spark):
    vids = spark.createDataFrame(
        [{"key": "v1", "n_frames": 25}, {"key": "v2", "n_frames": 1}],
        "key string, n_frames int",
    )
    frames = frame_sample_plan(vids, every_n=10).collect()
    got = {(r["key"], r["frame_idx"]) for r in frames}
    assert got == {("v1", 0), ("v1", 10), ("v1", 20), ("v2", 0)}

"""Byte-level characterization of the media synthesizers and JPEG encoders.

The m-family oracles compare DECODED statistics, so an encoder change
that altered payload bytes but still decoded to the same pixels would
pass them.  These digests pin the bytes themselves: every public
``synthesize_*`` builder over ids 0-49 (schema + every row, payload and
meta included) and the six public JPEG encoders over fixed random and
smooth arrays, with restart intervals where the encoder takes one.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from vunnel_spark.operators import multimodal as mm

BUILDER_DIGESTS = {
    "synthesize_avi_mjpeg_table":
        "a002144c42df1de93c377fe79902e939c7fc499c11ff62323908edb231ee2411",
    "synthesize_bmp_media_table":
        "722b43b1400e540b5f5367fd6a902f0ca54093f4a69e643c1e41e143f2ec9823",
    "synthesize_color_jpeg_media_table":
        "62b12e3065b9be2b985c348e6dd5b184bc88dd5498b10abee653bf2622395f95",
    "synthesize_flac_table":
        "a33869eb06eec903f8a3a521a65315c8fb6d695a20a11bba02e7b4e18a206ab4",
    "synthesize_fmp4_mjpeg_table":
        "6152507e6079b4bf97ff7e2b6b95e63644341f774dae02c4004e4b15ae0b95e7",
    "synthesize_gif_media_table":
        "54d7c20e3a3b899e11f9f619bd172aae96703905686721803ee96ad456580ded",
    "synthesize_ico_media_table":
        "47510312d21483057733f22dc63a351e44f193e48c1ccbb2d85649a91bc6f274",
    "synthesize_jpeg420_media_table":
        "a73db3969ce1cffaab30c46aa9650586768f73f3cf426eba3bd34eb7b3df3977",
    "synthesize_jpeg_media_table":
        "a149e9b9b6ca267fbca6b5b2572ff985ff6f8d82a672f90778ff9785a8558446",
    "synthesize_mp4_mjpeg_table":
        "63defb6acfdb74a6b334385798dcf60eba26566996c52494b5db93da3cc911b3",
    "synthesize_palette_png_media_table":
        "f29b5f9f894ef115f0849645114cac26f968e8079d915d3d46199caca4d7b4f5",
    "synthesize_png16_media_table":
        "3873e2383dde572e7adc784253f608e43d4c90954323a8245100531d90953fd8",
    "synthesize_png_media_table":
        "7ed84ad1df3779440008640dd13a9cd6f1085bd34d2be3e57e09805c277ccf0c",
    "synthesize_png_media_table[pixel_col]":
        "9116d3d3bc185d4b7738be7184a5c72343697f1437e1d3ceebd656a40c5da942",
    "synthesize_ppm_media_table":
        "5c4862b692943f81b59b32c78b97b2de95dd5bfe94fd53c50ccdce903b7492ab",
    "synthesize_progressive420_media_table":
        "e372e43826d76c4c00de971c186110bc8aaee912799504ed371b92d60ad490e4",
    "synthesize_progressive_jpeg_table":
        "d9da1320c2a1aacb3122b539ef6ea5bd735d91cc1608a78fa43f284fc62bc71a",
    "synthesize_rgba_png_media_table":
        "e356db666fdcd9003e97b2eacd57a4a6acfd1c7fa2b92c3e38f4c71de679bed4",
    "synthesize_stereo_flac_table":
        "4f653818e6419025550595dd6ba9f15bb54be6b665057e226a574a5b97c74380",
    "synthesize_tiff_media_table":
        "51775c59bfe10854e707eb3e375516b751e0fc36d2adde9184a0c9a07ddb86bb",
    "synthesize_video_table":
        "51c8fe10ee1e430a13489567ace6790d0f07a8872c038a2acd500baac495531d",
    "synthesize_wav_table":
        "d94c897be7c19f8f9ed4dbe7f23064a1927a62c5558e62051746eb858efe7919",
    "synthesize_webm_media_table":
        "7eb3c2ce2705036c7d400a273b78783a2f7f7a00d5ef37822dc938e4980a279c",
}

ENCODER_DIGESTS = {
    "encode_jpeg_gray":
        "cc8930f224c70beef4b5fe26fd695a999444ef42e83c8ee159cd05c70e3cfcf5",
    "encode_jpeg_gray_progressive":
        "6aa5adc07c6bce5127184a13080092ec5378fc5e6c475df006f3a3e0b6661cb3",
    "encode_jpeg_rgb":
        "a3fde307c95fc64ba2c339854037d1c6563f56888833148fa1491e55ffd591d9",
    "encode_jpeg_rgb420":
        "dab24284687feb1dcb17841c2652bd533935ec3e7f13513cf30dfe44cd6eece9",
    "encode_jpeg_rgb420_progressive":
        "c49d47401936549622a6eac8da78813b3e29afe506ca2e075b15a111d7abdc8a",
    "encode_jpeg_rgb_progressive":
        "00a5f74d8674da6d22ec36abd856b719e668b1b0057cc29bd9ed241276422d2e",
}


def table_digest(spark, name: str) -> str:
    docs = spark.range(50).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("base")
    )
    if name.endswith("[pixel_col]"):
        df = getattr(mm, name.split("[")[0])(docs, pixel_col="base")
    else:
        df = getattr(mm, name)(docs)
    h = hashlib.sha256(df.schema.simpleString().encode())
    for row in sorted(df.collect(), key=lambda r: r.media_id):
        h.update(repr(row.asDict(recursive=True)).encode())
    return h.hexdigest()


def _images():
    rng = np.random.default_rng(20260)
    yy, xx = np.mgrid[0:32, 0:48]
    smooth = ((3 * yy + 2 * xx) % 256).astype(np.uint8)
    gray = [rng.integers(0, 256, (16, 32), dtype=np.uint8), smooth]
    rgb = [
        rng.integers(0, 256, (32, 48, 3), dtype=np.uint8),
        np.stack([smooth, 255 - smooth, ((5 * xx) % 256).astype(np.uint8)], axis=2),
    ]
    return gray, rgb


def encoder_digest(name: str) -> str:
    gray, rgb = _images()
    enc = getattr(mm, name)
    h = hashlib.sha256()
    if name.startswith("encode_jpeg_gray"):
        for img in gray:
            for ri in (None, 1, 3):
                h.update(enc(img, restart_interval=ri))
    else:
        for img in rgb:
            h.update(enc(img))
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(BUILDER_DIGESTS))
def test_builder_bytes_pinned(spark, name):
    assert table_digest(spark, name) == BUILDER_DIGESTS[name]


@pytest.mark.parametrize("name", sorted(ENCODER_DIGESTS))
def test_jpeg_encoder_bytes_pinned(name):
    assert encoder_digest(name) == ENCODER_DIGESTS[name]


def test_encoder_inputs_clear_rounding_ties():
    """The encoder digests hold under any BLAS build only because no
    quantized DCT coefficient of the fixed arrays sits at a rounding
    tie, where last-bit differences in the matrix product could round
    either way."""
    m = mm._dct_matrix()
    q = np.array(mm._JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    gray, rgb = _images()
    planes = [g.astype(np.float64) for g in gray]
    for img in rgb:
        ycc = [np.clip(np.round(p), 0, 255) for p in mm.rgb_to_ycbcr(img)]
        h, w = ycc[0].shape
        planes += ycc + [
            np.round(p.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3)))
            for p in ycc[1:]
        ]
    for plane in planes:
        h, w = plane.shape
        blocks = plane.reshape(h // 8, 8, w // 8, 8).swapaxes(1, 2) - 128.0
        x = (m @ blocks @ m.T) / q
        assert np.abs(np.abs(x - np.floor(x)) - 0.5).min() > 1e-9

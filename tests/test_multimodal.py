"""Multimodal tests: the PPM codec round-trips for real, binary columns
flow through mapInPandas stages with correct schemas/batching, the video
container demuxes, and unsupported formats stay explicitly stubbed."""

from __future__ import annotations

import numpy as np
import pytest

from vunnel_spark.operators.multimodal import (
    decode_image,
    decode_ppm,
    encode_ppm,
    image_features,
    iter_frames,
    pack_frames,
    resize_images,
    sample_video_frames,
    synthesize_ppm_media_table,
    synthesize_video_table,
)
from vunnel_spark.session import load_table


# ------------------------------------------------------------ codec units

def test_ppm_roundtrip():
    img = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    assert (decode_ppm(encode_ppm(img)) == img).all()


def test_ppm_decode_handles_comments_and_whitespace():
    img = np.full((2, 3, 3), 7, dtype=np.uint8)
    quirky = b"P6\n# a comment\n 3\t2 # trailing\n255\n" + img.tobytes()
    assert (decode_ppm(quirky) == img).all()


def test_ppm_decode_rejects_truncation_and_wrong_magic():
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    with pytest.raises(ValueError):
        decode_ppm(encode_ppm(img)[:-1])
    with pytest.raises(ValueError):
        decode_ppm(b"P5\n2 2\n255\n" + img.tobytes())


def test_frame_container_roundtrip():
    frames = [b"aaa", b"", b"frame-three"]
    assert list(iter_frames(pack_frames(frames))) == frames


def test_unknown_video_container_is_explicitly_stubbed():
    with pytest.raises(NotImplementedError):
        list(iter_frames(b"\x00\x00\x00\x00mp4?"))


def test_unknown_image_format_is_explicitly_stubbed():
    with pytest.raises(NotImplementedError):
        decode_image(b"not-a-ppm")


# --------------------------------------------------------- spark plumbing

@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").limit(50)


@pytest.fixture(scope="module")
def ppm_media(docs):
    return synthesize_ppm_media_table(docs).cache()


def test_media_table_schema(ppm_media):
    assert dict(ppm_media.dtypes)["payload"] == "binary"
    meta = ppm_media.select("meta.*").columns
    assert meta == ["format", "width", "height", "n_bytes"]


def test_real_ppm_features_closed_form(ppm_media):
    """Channel means through the REAL decode match the synthesis law:
    G = 7*id mod 256, B = 13*id mod 256, R = mean of the gradient row."""
    rows = {r.media_id: r for r in image_features(ppm_media).collect()}
    assert len(rows) == 50
    for mid, r in rows.items():
        w = mid % 16 + 8
        assert r.mean_g == (7 * mid) % 256
        assert r.mean_b == (13 * mid) % 256
        assert abs(r.mean_r - np.mean((mid + np.arange(w)) % 256)) < 1e-9


def test_resize_composes(ppm_media):
    resized = resize_images(ppm_media, out_w=4, out_h=4)
    rows = resized.collect()
    assert all(r.meta.width == 4 and r.meta.height == 4 for r in rows)
    # PPM header "P6\n4 4\n255\n" (11 bytes) + 4*4*3 raster
    assert all(r.meta.n_bytes == 11 + 4 * 4 * 3 for r in rows)
    # output is itself decodable: features compose on it
    feats = image_features(resized).collect()
    assert len(feats) == len(rows)
    assert all(f.width == 4 and f.height == 4 for f in feats)


def test_video_sampling_explodes_and_decodes(docs):
    videos = synthesize_video_table(docs)
    frames = sample_video_frames(videos)
    got = frames.collect()
    by_id: dict[int, list] = {}
    for r in got:
        by_id.setdefault(r.media_id, []).append(r)
    for mid, rs in by_id.items():
        n = mid % 6 + 2
        assert sorted(r.frame_idx for r in rs) == list(range(0, n, 2))
        for r in rs:
            img = decode_ppm(bytes(r.payload))
            assert img.shape == (4, 4, 3)
            assert int(img[0, 0, 0]) == (mid + 17 * r.frame_idx) % 256


def test_wav_payload_is_honest_riff(spark, sf_dir):
    """The audio payload must be a REAL RIFF/WAVE file: stdlib wave (an
    independent parser from the synth's writer handle) reads the header
    and frames, and the first samples match the closed-form sine."""
    import io
    import math
    import wave as wavmod

    from vunnel_spark.operators.multimodal import synthesize_wav_table
    from vunnel_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").limit(3)
    rows = synthesize_wav_table(docs).collect()
    assert rows
    for r in rows:
        did = r["media_id"]
        payload = bytes(r["payload"])
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        with wavmod.open(io.BytesIO(payload), "rb") as w:
            assert w.getframerate() == r["meta"]["sample_rate"] == 8000
            assert w.getnframes() == r["meta"]["n_samples"]
            assert w.getnchannels() == 1 and w.getsampwidth() == 2
            raw = w.readframes(4)
        f = 100 + (did % 400)
        a = 1000 + (did % 9000)
        for t in range(4):
            expect = math.trunc(a * math.sin(2 * math.pi * f * t / 8000))
            got = int.from_bytes(raw[2 * t:2 * t + 2], "little", signed=True)
            assert got == expect, (did, t, got, expect)


def test_audio_features_prune_and_values(spark, sf_dir):
    from vunnel_spark.operators.multimodal import (
        audio_features,
        synthesize_wav_table,
    )
    from vunnel_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").limit(5)
    out = {r["media_id"]: r for r in audio_features(synthesize_wav_table(docs)).collect()}
    for did, r in out.items():
        n = 160 + (did % 50) * 8
        a = 1000 + (did % 9000)
        assert r["n_samples"] == n and r["duration_ms"] == n // 8
        # peak of a truncated sine is within 1 of the amplitude for any
        # clip spanning >= a few periods
        assert a - 50 <= r["peak_amplitude"] <= a
        # RMS of a sine ~ a/sqrt(2), loose band (finite clip, truncation)
        assert 0.5 * a <= r["rms"] * (2 ** 0.5) <= 1.1 * a


# ---------------------------------------------------------------- PNG codec

def test_png_roundtrip_all_filters_rgb_and_gray():
    import numpy as np

    from vunnel_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(42)
    for shape in [(5, 7, 3), (16, 9, 3), (1, 1, 3), (8, 8)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for filt in range(5):
            enc = encode_png(img, row_filter=lambda y, f=filt: f)
            assert np.array_equal(decode_png(enc), img), (shape, filt)
        # mixed filters per row
        enc = encode_png(img, row_filter=lambda y: y % 5)
        assert np.array_equal(decode_png(enc), img), shape


def test_png_chunk_layout_matches_independent_construction():
    """Encoder output must be byte-identical to a from-the-spec chunk
    construction done independently here (signature, IHDR field order,
    big-endian lengths, CRC-32 over type+data) for a filter-0 image —
    catching any drift in the writer that a self-roundtrip would mask."""
    import struct
    import zlib

    import numpy as np

    from vunnel_spark.operators.multimodal import encode_png

    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    got = encode_png(img)

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    scanlines = b"\x00" + img[0].tobytes() + b"\x00" + img[1].tobytes()
    want = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(scanlines))
            + chunk(b"IEND", b""))
    assert got == want


def test_png_palette_and_adam7_roundtrip():
    import numpy as np

    from vunnel_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(7)
    # sizes straddling the 8x8 Adam7 grid: sub-8 dims leave some of the
    # 7 passes empty, >8 dims exercise all of them
    for shape in [(5, 7, 3), (16, 9, 3), (1, 1, 3), (8, 8, 3), (3, 13, 3), (9, 9)]:
        img = rng.integers(0, 4, size=shape, dtype=np.uint8) * 64
        for pal in (False, True):
            if pal and img.ndim == 2:
                continue
            for inter in (False, True):
                enc = encode_png(
                    img, row_filter=lambda y: y % 5, palette=pal, interlace=inter
                )
                assert np.array_equal(decode_png(enc), img), (shape, pal, inter)


def test_png_palette_header_and_plte_contents():
    """Palette output must be a spec-correct type-3 PNG: IHDR color=3,
    a PLTE of the image's distinct colors, index scanlines."""
    import struct

    import numpy as np

    from vunnel_spark.operators.multimodal import encode_png

    img = np.zeros((2, 2, 3), dtype=np.uint8)
    img[0, 0] = (1, 2, 3)
    img[1, 1] = (9, 8, 7)
    enc = encode_png(img, palette=True)
    ihdr = enc[16:29]
    w, h, depth, color, comp, filt, inter = struct.unpack(">IIBBBBB", ihdr)
    assert (w, h, depth, color, inter) == (2, 2, 8, 3, 0)
    plte_pos = enc.index(b"PLTE")
    (plte_len,) = struct.unpack(">I", enc[plte_pos - 4 : plte_pos])
    plte = enc[plte_pos + 4 : plte_pos + 4 + plte_len]
    # np.unique sorts lexicographically: (0,0,0), (1,2,3), (9,8,7)
    assert plte == bytes([0, 0, 0, 1, 2, 3, 9, 8, 7])


def test_png_16bit_roundtrip_and_header():
    import struct

    import numpy as np

    from vunnel_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(5)
    for shape in [(5, 7, 3), (9, 9), (1, 1, 3), (12, 3, 3)]:
        img = rng.integers(0, 65536, size=shape, dtype=np.uint16)
        for inter in (False, True):
            enc = encode_png(img, row_filter=lambda y: y % 5, interlace=inter)
            w, h, depth, color, comp, filt, il = struct.unpack(">IIBBBBB", enc[16:29])
            assert depth == 16 and il == int(inter)
            dec = decode_png(enc)
            assert dec.dtype == np.uint16
            assert np.array_equal(dec, img), (shape, inter)


def test_png_16bit_big_endian_sample_order():
    """A depth-16 filter-0 scanline must carry big-endian samples
    (spec §7.1) — pin the byte order against an independent packing."""
    import struct
    import zlib

    import numpy as np

    from vunnel_spark.operators.multimodal import encode_png

    img = np.array([[0x1234, 0xABCD]], dtype=np.uint16)  # 1x2 gray
    enc = encode_png(img)
    idat_pos = enc.index(b"IDAT")
    (ln,) = struct.unpack(">I", enc[idat_pos - 4 : idat_pos])
    raw = zlib.decompress(enc[idat_pos + 4 : idat_pos + 4 + ln])
    assert raw == b"\x00\x12\x34\xab\xcd"


def test_png_alpha_roundtrip_and_headers():
    """Color types 4 (gray+alpha) and 6 (RGBA), 8- and 16-bit,
    sequential and Adam7, all round-trip; IHDR carries the right type."""
    import struct

    import numpy as np

    from vunnel_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(13)
    for ch, want_color in [(2, 4), (4, 6)]:
        for dtype, hi in [(np.uint8, 256), (np.uint16, 65536)]:
            img = rng.integers(0, hi, size=(6, 11, ch)).astype(dtype)
            for inter in (False, True):
                enc = encode_png(img, row_filter=lambda y: y % 5, interlace=inter)
                assert struct.unpack(">IIBBBBB", enc[16:29])[3] == want_color
                dec = decode_png(enc)
                assert dec.dtype == dtype and np.array_equal(dec, img), (
                    ch, dtype, inter)


def test_decode_image_strips_alpha():
    import numpy as np

    from vunnel_spark.operators.multimodal import decode_image, encode_png

    rgba = np.zeros((3, 4, 4), dtype=np.uint8)
    rgba[..., 0], rgba[..., 1], rgba[..., 2], rgba[..., 3] = 10, 20, 30, 200
    out = decode_image(encode_png(rgba))
    assert out.shape == (3, 4, 3)
    assert (out[..., 0] == 10).all() and (out[..., 2] == 30).all()
    ga = np.zeros((3, 4, 2), dtype=np.uint8)
    ga[..., 0], ga[..., 1] = 77, 128
    out = decode_image(encode_png(ga))
    assert out.shape == (3, 4, 3) and (out == 77).all()


def test_png_16bit_palette_rejected():
    import numpy as np
    import pytest

    from vunnel_spark.operators.multimodal import encode_png

    with pytest.raises(ValueError, match="16-bit palette"):
        encode_png(np.zeros((2, 2, 3), dtype=np.uint16), palette=True)


def test_png_palette_overflow_rejected():
    import numpy as np
    import pytest

    from vunnel_spark.operators.multimodal import encode_png

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)  # ~1000 colors
    with pytest.raises(ValueError, match="palette overflow"):
        encode_png(img, palette=True)


def test_png_adam7_interlace_flag_and_pass_structure():
    """Adam7 output sets IHDR interlace=1 and inflates to the per-pass
    scanline byte count the spec prescribes, not the sequential one."""
    import struct
    import zlib

    import numpy as np

    from vunnel_spark.operators.multimodal import _ADAM7, encode_png

    h, w, ch = 10, 11, 3
    img = np.zeros((h, w, ch), dtype=np.uint8)
    enc = encode_png(img, interlace=True)
    assert struct.unpack(">IIBBBBB", enc[16:29])[6] == 1
    idat_pos = enc.index(b"IDAT")
    (ln,) = struct.unpack(">I", enc[idat_pos - 4 : idat_pos])
    raw = zlib.decompress(enc[idat_pos + 4 : idat_pos + 4 + ln])
    want = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw and ph:
            want += ph * (1 + pw * ch)
    assert len(raw) == want


def test_png_missing_plte_rejected():
    import numpy as np
    import pytest

    from vunnel_spark.operators.multimodal import decode_png, encode_png

    img = np.zeros((2, 2, 3), dtype=np.uint8)
    enc = encode_png(img, palette=True)
    plte_pos = enc.index(b"PLTE")
    stripped = enc[: plte_pos - 4] + enc[plte_pos + 4 + 3 + 4 :]  # drop len+type+data+crc
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(stripped)


def test_png_sub_filter_rejects_stride_not_pixel_multiple():
    """A Sub-filtered row whose stride is not a whole number of pixels
    has no left neighbour to predict from: raise, never hand the raw
    filtered bytes back as pixels."""
    from vunnel_spark.operators.multimodal import _defilter

    raw = bytes([1]) + bytes(range(10, 15))  # Sub, 5-byte row, 3 bytes/px
    with pytest.raises(ValueError, match="not a multiple"):
        _defilter(raw, 0, 1, 5, 3)


def test_png_crc_corruption_detected():
    import numpy as np
    import pytest

    from vunnel_spark.operators.multimodal import decode_png, encode_png

    img = np.zeros((4, 4, 3), dtype=np.uint8)
    enc = bytearray(encode_png(img))
    enc[40] ^= 0xFF  # flip a byte inside IDAT
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(enc))


def test_decode_image_dispatches_png_and_gray_replication():
    import numpy as np

    from vunnel_spark.operators.multimodal import decode_image, encode_png

    gray = np.arange(12, dtype=np.uint8).reshape(3, 4)
    out = decode_image(encode_png(gray))
    assert out.shape == (3, 4, 3)
    assert np.array_equal(out[:, :, 0], gray)
    assert np.array_equal(out[:, :, 1], gray)


# --------------------------------------------------------------- JPEG codec

def test_jpeg_exact_roundtrip_even_block_constant():
    import numpy as np

    from vunnel_spark.operators.multimodal import decode_jpeg, encode_jpeg_gray

    rng = np.random.default_rng(7)
    blocks = (rng.integers(0, 128, size=(3, 4)) * 2).astype(np.uint8)
    img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
    assert np.array_equal(decode_jpeg(encode_jpeg_gray(img)), img)


def test_jpeg_lossy_on_general_content_but_bounded_on_smooth():
    import numpy as np

    from vunnel_spark.operators.multimodal import decode_jpeg, encode_jpeg_gray

    # smooth horizontal gradient: quantization error stays tiny
    g = np.tile(np.arange(0, 256, 8, dtype=np.uint8), (8, 1))[:8, :32]
    dec = decode_jpeg(encode_jpeg_gray(g))
    assert np.abs(dec.astype(int) - g.astype(int)).max() <= 2

    # DC prediction across many blocks round-trips (chained diffs)
    wide = np.kron(np.arange(0, 240, 16, dtype=np.uint8)[None, :] * 0 + 100,
                   np.ones((8, 8), dtype=np.uint8))
    assert decode_jpeg(encode_jpeg_gray(wide)).shape == wide.shape


def test_jpeg_rejects_unsupported_variants():
    import numpy as np
    import pytest

    from vunnel_spark.operators.multimodal import decode_jpeg, encode_jpeg_gray

    img = np.full((8, 8), 100, dtype=np.uint8)
    enc = bytearray(encode_jpeg_gray(img))
    # flip SOF0 (FFC0) to SOF1 (FFC1, extended sequential) and to SOF9
    # (FFC9, arithmetic-coded) — both unsupported; SOF2 progressive
    # decodes for real since round 6
    idx = bytes(enc).find(b"\xff\xc0")
    for sof in (0xC1, 0xC9):
        enc[idx + 1] = sof
        with pytest.raises(NotImplementedError, match="baseline"):
            decode_jpeg(bytes(enc))
    with pytest.raises(ValueError, match="multiple-of-8"):
        encode_jpeg_gray(np.zeros((7, 8), dtype=np.uint8))


def test_decode_image_dispatches_jpeg():
    import numpy as np

    from vunnel_spark.operators.multimodal import decode_image, encode_jpeg_gray

    img = np.full((8, 16), 42, dtype=np.uint8)
    out = decode_image(encode_jpeg_gray(img))
    assert out.shape == (8, 16, 3) and np.all(out == 42)


# ---------------------------------------------------------- AVI/MJPEG

def test_avi_mjpeg_roundtrip_and_structure():
    import numpy as np

    from vunnel_spark.operators.multimodal import (
        decode_jpeg,
        encode_avi_mjpeg,
        encode_jpeg_gray,
        iter_avi_frames,
        iter_frames,
    )

    frames = [encode_jpeg_gray(np.full((8, 8), 2 * v, dtype=np.uint8))
              for v in (10, 60, 110)]
    avi = encode_avi_mjpeg(frames, 8, 8)
    # RIFF structure basics
    assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
    assert b"MJPG" in avi and b"movi" in avi and b"idx1" in avi
    # demux returns the exact frame bytes, via both entry points
    assert list(iter_avi_frames(avi)) == frames
    assert list(iter_frames(avi)) == frames
    # and each demuxed frame decodes to its constant
    for f, v in zip(iter_avi_frames(avi), (20, 120, 220)):
        gray = decode_jpeg(f)
        assert gray.ndim == 2 and np.all(gray == v)


def test_avi_odd_sized_frames_word_alignment():
    from vunnel_spark.operators.multimodal import encode_avi_mjpeg, iter_avi_frames

    frames = [b"\xff\xd8" + b"x" * 7, b"\xff\xd8" + b"y" * 4]  # odd + even
    assert list(iter_avi_frames(encode_avi_mjpeg(frames, 8, 8))) == frames


def test_iter_frames_rejects_unknown_container():
    import pytest

    from vunnel_spark.operators.multimodal import iter_frames

    # a genuinely unknown magic: not AVI, not ISO-BMFF, not EBML, not VSPK
    with pytest.raises(NotImplementedError, match="unrecognized"):
        list(iter_frames(b"\x00\x00\x00\x00not-a-container"))
    # webm/EBML gets the webm-specific message pointing at the demux path
    with pytest.raises(NotImplementedError, match="webm_frame_index"):
        list(iter_frames(b"\x1a\x45\xdf\xa3webm-stream-bytes"))


# ---------------------------------------------- codec property tests

def test_png_roundtrip_property():
    """Hypothesis: ANY uint8 image (gray or RGB, any dims, any per-row
    filter assignment) round-trips bit-exactly through the PNG codec."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vunnel_spark.operators.multimodal import decode_png, encode_png

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 12), w=st.integers(1, 12),
        rgb=st.booleans(), seed=st.integers(0, 2**31),
        filter_seed=st.integers(0, 2**31),
    )
    def check(h, w, rgb, seed, filter_seed):
        rng = np.random.default_rng(seed)
        shape = (h, w, 3) if rgb else (h, w)
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        frng = np.random.default_rng(filter_seed)
        filters = frng.integers(0, 5, size=h)
        enc = encode_png(img, row_filter=lambda y: int(filters[y]))
        assert np.array_equal(decode_png(enc), img)

    check()


def test_jpeg_property_block_constant_even_exact_and_general_bounded():
    """Hypothesis: even block-constant images are EXACT through JPEG;
    arbitrary images decode to the right shape with values in range."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vunnel_spark.operators.multimodal import decode_jpeg, encode_jpeg_gray

    @settings(max_examples=25, deadline=None)
    @given(hb=st.integers(1, 4), wb=st.integers(1, 4), seed=st.integers(0, 2**31))
    def check(hb, wb, seed):
        rng = np.random.default_rng(seed)
        blocks = (rng.integers(0, 128, size=(hb, wb)) * 2).astype(np.uint8)
        img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
        assert np.array_equal(decode_jpeg(encode_jpeg_gray(img)), img)
        noisy = rng.integers(0, 256, size=img.shape, dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg_gray(noisy))
        assert dec.shape == noisy.shape and dec.dtype == np.uint8

    check()


# ---------------------------------------------------------- ISO-BMFF mp4

def test_mp4_mjpeg_roundtrip_and_structure():
    import numpy as np

    from vunnel_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_gray,
        encode_mp4_mjpeg,
        iter_frames,
        iter_mp4_frames,
    )

    frames = [encode_jpeg_gray(np.full((8, 8), 2 * v, dtype=np.uint8))
              for v in (5, 55, 105)]
    mp4 = encode_mp4_mjpeg(frames, 8, 8)
    assert mp4[4:8] == b"ftyp" and b"moov" in mp4 and b"stsz" in mp4
    assert list(iter_mp4_frames(mp4)) == frames
    assert list(iter_frames(mp4)) == frames
    for f, v in zip(iter_mp4_frames(mp4), (10, 110, 210)):
        gray = decode_jpeg(f)
        assert gray.ndim == 2 and np.all(gray == v)
    # odd sample sizes: mp4 has no word alignment, byte ranges must be exact
    odd = [b"\xff\xd8" + b"a" * 7, b"\xff\xd8" + b"b" * 10]
    assert list(iter_mp4_frames(encode_mp4_mjpeg(odd, 8, 8))) == odd


def test_mp4_rejects_non_bmff_and_malformed_fragment():
    import pytest

    from vunnel_spark.operators.multimodal import encode_mp4_mjpeg, iter_mp4_frames

    with pytest.raises(ValueError, match="ISO-BMFF"):
        list(iter_mp4_frames(b"RIFFxxxxAVI "))
    # a bare moof with no traf routes to the fragmented walk and fails
    # loudly rather than being silently skipped
    mp4 = bytearray(encode_mp4_mjpeg([b"\xff\xd8xx"], 8, 8))
    import struct
    mp4 += struct.pack(">I", 8) + b"moof"
    with pytest.raises(ValueError, match="traf"):
        list(iter_mp4_frames(bytes(mp4)))


# ------------------------------------------------------------ color JPEG

def test_color_jpeg_grayvalued_exact_and_general_lossy():
    import numpy as np

    from vunnel_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_rgb,
    )

    rng = np.random.default_rng(11)
    blocks = (rng.integers(0, 128, size=(2, 3)) * 2).astype(np.uint8)
    gray = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
    rgb = np.repeat(gray[:, :, None], 3, axis=2)
    assert np.array_equal(decode_jpeg(encode_jpeg_rgb(rgb)), rgb)

    color = rng.integers(0, 256, size=(16, 8, 3), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg_rgb(color))
    assert dec.shape == color.shape and dec.dtype == np.uint8


def test_color_jpeg_smooth_gradient_bounded_error():
    import numpy as np

    from vunnel_spark.operators.multimodal import decode_jpeg, encode_jpeg_rgb

    smooth = np.zeros((8, 32, 3), np.uint8)
    smooth[:, :, 0] = np.arange(32) * 8
    smooth[:, :, 1] = 100
    smooth[:, :, 2] = 200
    dec = decode_jpeg(encode_jpeg_rgb(smooth))
    assert np.abs(dec.astype(int) - smooth.astype(int)).max() <= 5


# -------------------------------------------------- review regressions

def test_color_jpeg_saturated_chroma_no_wraparound():
    """Pure blue drives Cb to 255.5: the encoder must CLIP, not wrap, the
    chroma planes (round->uint8 alone would turn 256 into 0 and decode
    pure blue as green)."""
    import numpy as np

    from vunnel_spark.operators.multimodal import decode_jpeg, encode_jpeg_rgb

    blue = np.zeros((8, 8, 3), np.uint8)
    blue[:, :, 2] = 255
    dec = decode_jpeg(encode_jpeg_rgb(blue))
    # lossy, but blue must stay dominant and blue-ish — wraparound made it green
    assert dec[:, :, 2].mean() > 200, dec[0, 0]
    assert dec[:, :, 1].mean() < 100, dec[0, 0]


def test_png_encoder_rejects_invalid_filter_type():
    import numpy as np
    import pytest

    from vunnel_spark.operators.multimodal import encode_png

    img = np.zeros((4, 4, 3), np.uint8)
    with pytest.raises(ValueError, match="invalid filter type"):
        encode_png(img, row_filter=lambda y: 5)


def test_jpeg_truncated_scan_raises_value_error():
    import pytest

    from vunnel_spark.operators.multimodal import _BitReader

    br = _BitReader(b"\xff")
    with pytest.raises(ValueError, match="truncated"):
        for _ in range(8):
            br.read_bit()


def test_mp4_tkhd_box_is_spec_sized():
    """v0 tkhd = 8 header + 4 version/flags + 80 body = 92 bytes."""
    import struct

    from vunnel_spark.operators.multimodal import encode_mp4_mjpeg

    mp4 = encode_mp4_mjpeg([b"\xff\xd8xx"], 8, 8)
    i = mp4.find(b"tkhd") - 4
    (size,) = struct.unpack_from(">I", mp4, i)
    assert size == 92, size


# ----------------------------------------- 4:2:0 JPEG + fragmented mp4

def test_jpeg_420_grayvalued_exact_and_smooth_bounded():
    import numpy as np

    from vunnel_spark.operators.multimodal import decode_jpeg, encode_jpeg_rgb420

    rng = np.random.default_rng(5)
    tiles = (rng.integers(0, 128, size=(2, 3)) * 2).astype(np.uint8)
    gray = np.kron(tiles, np.ones((16, 16), dtype=np.uint8))
    rgb = np.repeat(gray[:, :, None], 3, axis=2)
    assert np.array_equal(decode_jpeg(encode_jpeg_rgb420(rgb)), rgb)

    smooth = np.zeros((16, 32, 3), np.uint8)
    smooth[:, :, 0] = np.arange(32) * 8
    smooth[:, :, 1] = 100
    smooth[:, :, 2] = 200
    dec = decode_jpeg(encode_jpeg_rgb420(smooth))
    assert np.abs(dec.astype(int) - smooth.astype(int)).max() <= 8


def test_jpeg_420_rejects_bad_dims():
    import numpy as np
    import pytest

    from vunnel_spark.operators.multimodal import encode_jpeg_rgb420

    with pytest.raises(ValueError, match="multiple-of-16"):
        encode_jpeg_rgb420(np.zeros((8, 16, 3), np.uint8))


def test_fragmented_mp4_roundtrip():
    import numpy as np

    from vunnel_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_gray,
        encode_mp4f_mjpeg,
        iter_frames,
        iter_mp4_frames,
    )

    frames = [encode_jpeg_gray(np.full((8, 8), 2 * v, dtype=np.uint8))
              for v in (3, 50, 90, 120)]
    f = encode_mp4f_mjpeg(frames, 8, 8)
    assert f[4:8] == b"ftyp" and b"moof" in f and b"trex" in f
    assert list(iter_mp4_frames(f)) == frames
    assert list(iter_frames(f)) == frames
    for x, v in zip(iter_mp4_frames(f), (6, 100, 180, 240)):
        gray = decode_jpeg(x)
        assert gray.ndim == 2 and np.all(gray == v)
    # odd sample sizes: byte ranges exact, no alignment assumptions
    odd = [b"\xff\xd8" + b"q" * 7, b"\xff\xd8" + b"r" * 10]
    assert list(iter_mp4_frames(encode_mp4f_mjpeg(odd, 8, 8))) == odd


# ------------------------------------------------- progressive JPEG (SOF2)

def test_progressive_jpeg_exact_roundtrip_even_block_constant():
    import numpy as np

    from vunnel_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_gray_progressive,
    )

    for did in (0, 1, 5, 7, 42):
        hb, wb = did % 3 + 1, did % 2 + 1
        r = np.arange(hb)[:, None]
        c = np.arange(wb)[None, :]
        blocks = (2 * ((did * 11 + r * 3 + c * 7) % 128)).astype(np.uint8)
        img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
        payload = encode_jpeg_gray_progressive(img)
        assert payload.find(b"\xff\xc2") > 0  # genuinely SOF2
        assert payload.count(b"\xff\xda") == 6  # six scans
        assert np.array_equal(decode_jpeg(payload), img)


def test_progressive_equals_baseline_decode_property():
    """The multi-scan entropy layer (spectral selection, EOBn runs, DC+AC
    successive-approximation refinement) is LOSSLESS over the quantized
    coefficients: progressive and baseline encodings of the same image
    must decode bit-identically — any slip in the correction-bit
    interleaving breaks this immediately."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vunnel_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_gray,
        encode_jpeg_gray_progressive,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        hb=st.integers(1, 4), wb=st.integers(1, 4),
        seed=st.integers(0, 2**31), kind=st.integers(0, 2),
    )
    def check(hb, wb, seed, kind):
        rng = np.random.default_rng(seed)
        h, w = 8 * hb, 8 * wb
        if kind == 0:
            img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        elif kind == 1:  # near-flat: long EOB runs in every scan
            img = (int(rng.integers(0, 200))
                   + rng.integers(0, 8, size=(h, w))).astype(np.uint8)
        else:  # stripes: dense AC in band 1-5, sparse in 6-63
            img = np.tile(rng.integers(0, 256, size=(1, w), dtype=np.uint8), (h, 1))
        base = decode_jpeg(encode_jpeg_gray(img))
        prog = decode_jpeg(encode_jpeg_gray_progressive(img))
        assert np.array_equal(base, prog)

    check()


def test_progressive_decoder_rejects_bad_scans_and_dims():
    import numpy as np
    import pytest

    from vunnel_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_gray_progressive,
        encode_jpeg_rgb,
        encode_jpeg_rgb420_progressive,
    )

    # a baseline color stream mislabeled SOF2 fails loudly: its single
    # interleaved SOS (Ss=0, Se=63) is not a legal progressive DC scan
    enc = bytearray(encode_jpeg_rgb(np.zeros((8, 8, 3), dtype=np.uint8)))
    idx = bytes(enc).find(b"\xff\xc0")
    enc[idx + 1] = 0xC2
    with pytest.raises(ValueError, match="DC scan must have Se=0"):
        decode_jpeg(bytes(enc))
    with pytest.raises(ValueError, match="multiple-of-8"):
        encode_jpeg_gray_progressive(np.zeros((7, 8), dtype=np.uint8))
    with pytest.raises(ValueError, match="multiple-of-16"):
        encode_jpeg_rgb420_progressive(np.zeros((8, 8, 3), dtype=np.uint8))


@pytest.mark.parametrize("encoder", ["encode_jpeg_gray", "encode_jpeg_rgb",
                                     "encode_jpeg_gray_progressive",
                                     "encode_jpeg_rgb_progressive"])
def test_jpeg_decodes_dims_not_multiple_of_8(encoder):
    """A stream whose SOF declares 10x13 over a coded 16x16 block grid
    decodes to the 16x16 decode cropped to 10x13: the edge blocks are
    decoded in full and cropped, in baseline and progressive alike."""
    import struct

    import numpy as np

    from vunnel_spark.operators import multimodal as mm

    rng = np.random.default_rng(10)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    enc = getattr(mm, encoder)
    payload = bytearray(enc(img[:, :, 0] if "gray" in encoder else img))
    full = mm.decode_jpeg(bytes(payload))
    sof = max(payload.find(b"\xff\xc0"), payload.find(b"\xff\xc2"))
    payload[sof + 5 : sof + 9] = struct.pack(">HH", 10, 13)
    assert np.array_equal(mm.decode_jpeg(bytes(payload)), full[:10, :13])


@pytest.mark.parametrize("encoder", ["encode_jpeg_gray", "encode_jpeg_rgb420_progressive"])
def test_jpeg_rejects_sof_larger_than_its_data(encoder):
    """Each block's DC difference takes at least one bit, so a SOF that
    declares more blocks than the payload has bits is rejected before
    the block grid is allocated."""
    import struct

    import numpy as np

    from vunnel_spark.operators import multimodal as mm

    img = np.full((16, 16, 3), 100, dtype=np.uint8)
    payload = bytearray(getattr(mm, encoder)(img[:, :, 0] if "gray" in encoder else img))
    sof = max(payload.find(b"\xff\xc0"), payload.find(b"\xff\xc2"))
    payload[sof + 5 : sof + 9] = struct.pack(">HH", 4096, 4096)
    with pytest.raises(ValueError, match="more blocks"):
        mm.decode_jpeg(bytes(payload))


def test_progressive_color_equals_baseline_decode():
    """Color progressive (4:4:4 AND 4:2:0): interleaved-MCU DC scans
    with per-component predictors + per-component AC scans must decode
    bit-identically to the corresponding baseline encoding."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vunnel_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_rgb,
        encode_jpeg_rgb420,
        encode_jpeg_rgb420_progressive,
        encode_jpeg_rgb_progressive,
    )

    @settings(max_examples=15, deadline=None)
    @given(hb=st.integers(1, 3), wb=st.integers(1, 3), seed=st.integers(0, 2**31))
    def check(hb, wb, seed):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=(8 * hb, 8 * wb, 3), dtype=np.uint8)
        assert np.array_equal(
            decode_jpeg(encode_jpeg_rgb(img)),
            decode_jpeg(encode_jpeg_rgb_progressive(img)),
        )
        img16 = rng.integers(0, 256, size=(16 * hb, 16 * wb, 3), dtype=np.uint8)
        assert np.array_equal(
            decode_jpeg(encode_jpeg_rgb420(img16)),
            decode_jpeg(encode_jpeg_rgb420_progressive(img16)),
        )

    check()


def test_progressive420_exact_on_even_constant_tiles():
    import numpy as np

    from vunnel_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_rgb420_progressive,
    )

    for did in (0, 1, 5, 7, 42):
        hb, wb = did % 3 + 1, did % 2 + 1
        r = np.arange(hb)[:, None]
        c = np.arange(wb)[None, :]
        tiles = (2 * ((did * 17 + r * 9 + c * 11) % 128)).astype(np.uint8)
        gray = np.kron(tiles, np.ones((16, 16), dtype=np.uint8))
        rgb = np.repeat(gray[:, :, None], 3, axis=2)
        payload = encode_jpeg_rgb420_progressive(rgb)
        assert payload.find(b"\xff\xc2") > 0
        assert payload.count(b"\xff\xda") == 14  # 2 DC + 12 AC scans
        assert np.array_equal(decode_jpeg(payload), rgb), did


def test_restart_interval_roundtrip_matches_plain():
    """DRI/RSTn: the encoder's restart emission (byte-align, marker,
    predictor reset) and the decoder's resync must be transparent — the
    decode equals the no-restart decode bit-for-bit."""
    import numpy as np
    import pytest

    from vunnel_spark.operators.multimodal import decode_jpeg, encode_jpeg_gray

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(32, 40), dtype=np.uint8)
    plain = decode_jpeg(encode_jpeg_gray(img))
    for ri in (1, 2, 7, 100):
        enc = encode_jpeg_gray(img, restart_interval=ri)
        assert b"\xff\xdd" in enc
        assert np.array_equal(decode_jpeg(enc), plain), ri
    # out-of-sequence marker is detected, not silently absorbed
    enc = bytearray(encode_jpeg_gray(img, restart_interval=2))
    idx = bytes(enc).find(b"\xff\xd0")
    assert idx > 0
    enc[idx + 1] = 0xD5  # wrong RSTn ordinal
    with pytest.raises(ValueError, match="restart"):
        decode_jpeg(bytes(enc))


def test_restart_interval_validated_at_api_boundary():
    import numpy as np
    import pytest

    from vunnel_spark.operators.multimodal import encode_jpeg_gray

    img = np.zeros((8, 8), dtype=np.uint8)
    for bad in (0, -2, 0x10000):
        with pytest.raises(ValueError, match="restart_interval"):
            encode_jpeg_gray(img, restart_interval=bad)


# ---------------------------------------------------------------- FLAC codec

def test_flac_lossless_roundtrip_all_signal_shapes():
    import numpy as np

    from vunnel_spark.operators.multimodal import decode_flac, encode_flac

    rng = np.random.default_rng(21)
    cases = [
        rng.integers(-32768, 32768, 500).astype(np.int16),  # noise (order 0)
        np.full(300, -1234, dtype=np.int16),                # constant
        np.arange(-250, 250, dtype=np.int16),               # ramp (order 1+)
        np.array([7], dtype=np.int16),                      # single sample
        np.array([32767, -32768, 0, -1], dtype=np.int16),   # extremes
    ]
    for did in (0, 7, 42):  # the synth's sine law
        n = 168 + (did % 40) * 8
        t = np.arange(n, dtype=np.float64)
        cases.append(
            np.trunc((900 + did % 8000)
                     * np.sin(2 * np.pi * (120 + did % 350) * t / 8000)
                     ).astype(np.int16)
        )
    for i, s in enumerate(cases):
        enc = encode_flac(s, 8000)
        assert enc[:4] == b"fLaC"
        dec, sr = decode_flac(enc)
        assert sr == 8000 and np.array_equal(dec, s), i
        # compressed, not just wrapped: tonal clips beat raw PCM size
        if i >= len(cases) - 3:
            assert len(enc) < 2 * len(s)


def test_flac_integrity_checks_fire():
    import numpy as np
    import pytest

    from vunnel_spark.operators.multimodal import decode_flac, encode_flac

    s = np.arange(-100, 100, dtype=np.int16)
    enc = bytearray(encode_flac(s, 8000))
    # flip a bit in the entropy data: either the CRC-16 catches it, or a
    # desynchronized rice run exhausts the buffer — both are ValueErrors
    enc[-10] ^= 0x40
    with pytest.raises(ValueError, match="CRC|truncated"):
        decode_flac(bytes(enc))
    # flip a bit in the frame header: CRC-8 catches it
    enc2 = bytearray(encode_flac(s, 8000))
    hdr = enc2.find(b"\xff\xf8")
    enc2[hdr + 4] ^= 0x01  # frame-number byte
    with pytest.raises(ValueError, match="CRC-8"):
        decode_flac(bytes(enc2))
    with pytest.raises(ValueError, match="FLAC"):
        decode_flac(b"RIFFnotflac")


def test_flac_fixed_residuals_out_of_range_rejected():
    """An order-4 FIXED subframe whose escape-coded 31-bit residuals no
    16-bit signal can produce: integrating them four times overflows
    int64, so the reconstruction must reject them, not wrap silently."""
    from vunnel_spark.operators.multimodal import (
        _PlainBitReader,
        _PlainBitWriter,
        _read_flac_subframe,
    )

    blocksize = 4096
    bw = _PlainBitWriter()
    bw.write(0b0001100, 7)  # pad bit + FIXED order 4
    bw.write(0, 1)  # no wasted bits
    for _ in range(4):
        bw.write(0, 16)  # warmup samples
    bw.write(0, 2)  # 4-bit rice parameters
    bw.write(0, 4)  # partition order 0
    bw.write(0b1111, 4)  # escape: residuals stored raw...
    bw.write(31, 5)  # ...at 31 bits each
    for _ in range(blocksize - 4):
        bw.write((1 << 30) - 1, 31)
    bw.align()
    with pytest.raises(ValueError, match="out of range"):
        _read_flac_subframe(_PlainBitReader(bw.bytes()), blocksize, 16)


def test_flac_audio_features_match_wav_law(spark, sf_dir):
    """The same decoded-feature pipeline runs over FLAC payloads via the
    magic-sniffing dispatch; peak/RMS obey the synth's closed form."""
    import numpy as np

    from vunnel_spark.operators.multimodal import (
        audio_features,
        synthesize_flac_table,
    )
    from vunnel_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").limit(5)
    out = {r["media_id"]: r for r in
           audio_features(synthesize_flac_table(docs)).collect()}
    assert len(out) == 5
    for did, r in out.items():
        n = 168 + (did % 40) * 8
        a = 900 + (did % 8000)
        assert r["n_samples"] == n and r["duration_ms"] == n // 8
        assert a - 50 <= r["peak_amplitude"] <= a
        assert 0.5 * a <= r["rms"] * (2 ** 0.5) <= 1.1 * a


def test_flac_lpc_subframes_lossless_and_smaller_on_tonal():
    """LPC path: Levinson-Durbin-fit quantized coefficients round-trip
    bit-exactly at every order (integer prediction on both sides), and
    actually predict — tonal clips compress smaller than FIXED."""
    import numpy as np

    from vunnel_spark.operators.multimodal import decode_flac, encode_flac

    rng = np.random.default_rng(31)
    t = np.arange(320, dtype=np.float64)
    sine = np.trunc(4000 * np.sin(2 * np.pi * 150 * t / 8000)).astype(np.int16)
    cases = [
        sine,
        rng.integers(-32768, 32768, 400).astype(np.int16),
        np.zeros(200, dtype=np.int16),  # silence: degenerate autocorr
        np.array([5, -3], dtype=np.int16),  # order clamps to n-1
    ]
    for i, s in enumerate(cases):
        for order in (1, 2, 4, 8):
            enc = encode_flac(s, 8000, method="lpc", lpc_order=order)
            dec, _sr = decode_flac(enc)
            assert np.array_equal(dec, s), (i, order)
    assert len(encode_flac(sine, 8000, method="lpc")) < len(encode_flac(sine, 8000))


def test_stereo_flac_all_modes_lossless_roundtrip():
    """Every channel assignment x predictor combination must decode to
    the exact input channels — including full-range int16 where the
    side channel needs all 17 bits."""
    import numpy as np

    from vunnel_spark.operators.multimodal import (
        decode_flac,
        encode_flac_stereo,
    )

    rng = np.random.RandomState(11)
    cases = [
        ("constant", np.full(200, 123, np.int16), np.full(200, -456, np.int16)),
        ("tonal", np.trunc(3000 * np.sin(np.arange(300) / 7.0)).astype(np.int16),
         np.trunc(2500 * np.sin(np.arange(300) / 5.0)).astype(np.int16)),
        ("noise", rng.randint(-32768, 32768, 257).astype(np.int16),
         rng.randint(-32768, 32768, 257).astype(np.int16)),
        ("extremes", np.array([32767, -32768, 32767, -32768, 0], np.int16),
         np.array([-32768, 32767, -32768, 32767, -1], np.int16)),
        ("one", np.array([-7], np.int16), np.array([9], np.int16)),
    ]
    for name, left, right in cases:
        for mode in ("lr", "ls", "rs", "ms"):
            for method in ("fixed", "lpc"):
                if method == "lpc" and len(left) < 2:
                    continue
                out, sr = decode_flac(
                    encode_flac_stereo(left, right, 8000, mode=mode,
                                       method=method)
                )
                assert sr == 8000
                assert out.shape == (len(left), 2), (name, mode, method)
                assert np.array_equal(out[:, 0], left), (name, mode, method)
                assert np.array_equal(out[:, 1], right), (name, mode, method)


@pytest.mark.parametrize("stereo", [False, True], ids=["mono", "stereo"])
def test_flac_blocksize_bound(stereo):
    """STREAMINFO's blocksize fields are 16-bit: 65,535 samples is the
    longest clip that encodes, and 65,536 is a ValueError rather than a
    struct.error from packing the header."""
    from vunnel_spark.operators.multimodal import (
        decode_flac,
        encode_flac,
        encode_flac_stereo,
    )

    def encode(n):
        x = np.trunc(3000 * np.sin(np.arange(n) / 7.0)).astype(np.int16)
        if stereo:
            return x, encode_flac_stereo(x, x // 2, 8000)
        return x, encode_flac(x, 8000)

    x, enc = encode(0xFFFF)
    out, sr = decode_flac(enc)
    want = np.stack([x, x // 2], axis=1) if stereo else x
    assert sr == 8000 and np.array_equal(out, want)
    with pytest.raises(ValueError, match="65535"):
        encode(0x10000)


def test_stereo_flac_property_roundtrip():
    """Hypothesis sweep: random channels, lengths and modes decode
    bit-exactly (MD5-verified inside decode_flac)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vunnel_spark.operators.multimodal import (
        decode_flac,
        encode_flac_stereo,
    )

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(1, 400),
        st.integers(0, 2**32 - 1),
        st.sampled_from(["lr", "ls", "rs", "ms"]),
        st.sampled_from(["fixed", "lpc"]),
    )
    def check(n, seed, mode, method):
        if method == "lpc" and n < 2:
            n = 2
        rng = np.random.RandomState(seed)
        left = rng.randint(-32768, 32768, n).astype(np.int16)
        right = rng.randint(-32768, 32768, n).astype(np.int16)
        out, _ = decode_flac(
            encode_flac_stereo(left, right, 8000, mode=mode, method=method)
        )
        assert np.array_equal(out[:, 0], left)
        assert np.array_equal(out[:, 1], right)

    check()


def test_stereo_flac_integrity_and_errors():
    import numpy as np
    import pytest

    from vunnel_spark.operators.multimodal import (
        decode_flac,
        encode_flac_stereo,
    )

    left = np.arange(100, dtype=np.int16)
    right = -np.arange(100, dtype=np.int16)
    with pytest.raises(ValueError):
        encode_flac_stereo(left, right[:50], 8000)
    with pytest.raises(ValueError):
        encode_flac_stereo(left, right, 8000, mode="xx")
    enc = bytearray(encode_flac_stereo(left, right, 8000, mode="ms"))
    enc[-3] ^= 0x40  # flip a residual bit inside the frame
    with pytest.raises(ValueError):
        decode_flac(bytes(enc))


def test_stereo_flac_features_match_synth_law(spark, sf_dir):
    """stereo_audio_features over the synth table must equal the
    closed-form law — per channel, plus the exact L*R dot."""
    import math

    import numpy as np

    from vunnel_spark.operators.multimodal import (
        stereo_audio_features,
        synthesize_stereo_flac_table,
    )
    from vunnel_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").limit(24)
    rows = {r["media_id"]: r for r in
            stereo_audio_features(synthesize_stereo_flac_table(docs)).collect()}
    for did, r in rows.items():
        n = 160 + (did % 36) * 8
        fl = 110 + (did % 300)
        fr = 130 + (did % 320)
        a = 800 + (did % 7000)
        tt = np.arange(n, dtype=np.float64)
        left = np.trunc(a * np.sin(2.0 * np.pi * fl * tt / 8000))
        right = np.trunc(a * np.sin(2.0 * np.pi * fr * tt / 8000))
        assert r["n_samples"] == n
        assert r["peak_left"] == int(np.max(np.abs(left)))
        assert r["peak_right"] == int(np.max(np.abs(right)))
        assert r["rms_left"] == round(math.sqrt(float(np.mean(left * left))), 4)
        assert r["rms_right"] == round(math.sqrt(float(np.mean(right * right))), 4)
        assert r["lr_dot"] == int(np.dot(left.astype(np.int64),
                                         right.astype(np.int64)))


def test_progressive_dri_equals_baseline_and_contains_rst():
    """Progressive with restart intervals must decode bit-identically to
    baseline (entropy layer lossless) and actually carry RSTn markers in
    every scan when the interval divides the block count."""
    import numpy as np

    from vunnel_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_gray,
        encode_jpeg_gray_progressive,
    )

    rng = np.random.RandomState(31)
    img = rng.randint(0, 256, (24, 32)).astype(np.uint8)  # 12 blocks
    base = decode_jpeg(encode_jpeg_gray(img))
    payload = encode_jpeg_gray_progressive(img, restart_interval=4)
    assert np.array_equal(decode_jpeg(payload), base)
    # DRI segment present with the right interval
    i = payload.find(b"\xff\xdd")
    assert i > 0 and payload[i + 4 : i + 6] == b"\x00\x04"
    # 12 blocks / interval 4 -> 2 boundaries per scan, 6 scans
    n_rst = sum(payload.count(bytes([0xFF, 0xD0 + k])) for k in range(8))
    assert n_rst == 12, n_rst


def test_progressive_dri_property_matches_plain():
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vunnel_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_gray_progressive,
    )

    @settings(max_examples=12, deadline=None)
    @given(st.integers(1, 5), st.integers(1, 5), st.integers(1, 9),
           st.integers(0, 2**32 - 1))
    def check(bh, bw_, ri, seed):
        rng = np.random.RandomState(seed)
        img = rng.randint(0, 256, (bh * 8, bw_ * 8)).astype(np.uint8)
        plain = decode_jpeg(encode_jpeg_gray_progressive(img))
        with_dri = decode_jpeg(
            encode_jpeg_gray_progressive(img, restart_interval=ri)
        )
        assert np.array_equal(plain, with_dri)

    check()


def test_progressive_dri_out_of_sequence_rejected():
    import numpy as np
    import pytest

    from vunnel_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_gray_progressive,
    )

    img = np.arange(24 * 32, dtype=np.uint8).reshape(24, 32) % 251
    payload = bytearray(encode_jpeg_gray_progressive(img, restart_interval=2))
    # corrupt the first RST marker's sequence number (RST0 -> RST5)
    for i in range(len(payload) - 1):
        if payload[i] == 0xFF and payload[i + 1] == 0xD0:
            payload[i + 1] = 0xD5
            break
    with pytest.raises(ValueError):
        decode_jpeg(bytes(payload))
    with pytest.raises(ValueError):
        encode_jpeg_gray_progressive(img, restart_interval=0)
    with pytest.raises(ValueError):
        encode_jpeg_gray_progressive(img, restart_interval=70000)


def test_lzw_roundtrip_property():
    """GIF-variant LZW: random index streams across alphabet sizes and
    lengths, including streams long enough to force 12-bit growth and
    clear-code table resets."""
    import random

    from vunnel_spark.operators.multimodal import _lzw_decode, _lzw_encode

    rng = random.Random(20260815)
    for _ in range(40):
        n = rng.choice([0, 1, 2, 7, 100, 2500, 25000])
        alpha = rng.choice([2, 3, 4, 16, 128, 256])
        mcs = max(2, (alpha - 1).bit_length())
        data = bytes(rng.randrange(alpha) for _ in range(n))
        enc = _lzw_encode(data, mcs)
        assert bytes(_lzw_decode(enc, mcs, n)) == data


def test_lzw_table_reset_exercised():
    """A high-entropy stream >4096 distinct prefixes must embed at least
    one mid-stream Clear code (table reset) and still round-trip."""
    import random

    from vunnel_spark.operators.multimodal import _lzw_decode, _lzw_encode

    rng = random.Random(3)
    data = bytes(rng.randrange(256) for _ in range(60000))
    enc = _lzw_encode(data, 8)
    assert bytes(_lzw_decode(enc, 8, len(data))) == data


def test_gif_roundtrip_interlace_and_local_tables():
    import numpy as np

    from vunnel_spark.operators.multimodal import decode_gif, encode_gif

    for did in (0, 1, 5, 17, 123, 255, 1000):
        w, h, nf = did % 8 + 4, did % 4 + 4, did % 4 + 2
        frames = []
        for f in range(nf):
            img = np.empty((h, w, 3), np.uint8)
            img[:, :, 0] = ((did + 17 * f + np.arange(w)) % 256)[None, :]
            img[:, :, 1] = (7 * did + 5 * f) % 256
            img[:, :, 2] = (13 * did) % 256
            frames.append(img)
        dec = decode_gif(encode_gif(frames))
        assert len(dec) == nf
        for a, b in zip(frames, dec):
            assert np.array_equal(a, b)


def test_gif_subrectangle_compositing():
    """Frames at a (left, top) offset paint over the running canvas
    (disposal 'leave in place') — hand-built payload, since our encoder
    only writes full frames."""
    import struct

    import numpy as np

    from vunnel_spark.operators.multimodal import (
        _gif_color_table,
        _indexed_palette,
        _lzw_encode,
        decode_gif,
    )

    def img_block(arr, left, top, lct):
        colors, idx = _indexed_palette(arr)
        bits = max(1, (len(colors) - 1).bit_length())
        b = bytearray(b"\x2c")
        b += struct.pack("<HHHH", left, top, arr.shape[1], arr.shape[0])
        b += bytes([0x80 | (bits - 1) if lct else 0])
        if lct:
            b += _gif_color_table(colors)
        mcs = max(2, bits)
        b.append(mcs)
        d = _lzw_encode(bytes(idx.reshape(-1)), mcs)
        for i in range(0, len(d), 255):
            c = d[i : i + 255]
            b.append(len(c))
            b += c
        b.append(0)
        return b

    base = np.zeros((8, 8, 3), np.uint8)
    base[:, :, 0] = 9
    sub = np.full((3, 4, 3), 200, np.uint8)
    colors, _ = _indexed_palette(base)
    gb = max(1, (len(colors) - 1).bit_length())
    p = bytearray(b"GIF89a")
    p += struct.pack("<HHBBB", 8, 8, 0x80 | (7 << 4) | (gb - 1), 0, 0)
    p += _gif_color_table(colors)
    p += img_block(base, 0, 0, False)
    p += img_block(sub, 2, 3, True)
    p.append(0x3B)
    dec = decode_gif(bytes(p))
    assert np.array_equal(dec[0], base)
    exp = base.copy()
    exp[3:6, 2:6] = 200
    assert np.array_equal(dec[1], exp)


def test_gif_rejects_malformed():
    import numpy as np
    import pytest

    from vunnel_spark.operators.multimodal import decode_gif, encode_gif

    with pytest.raises(ValueError):
        decode_gif(b"NOPE" + b"\x00" * 16)
    img = np.zeros((4, 4, 3), np.uint8)
    payload = bytearray(encode_gif([img]))
    # flip the image-separator byte to an unknown block type
    sep = payload.index(0x2C, 13)
    payload[sep] = 0x7F
    with pytest.raises(ValueError):
        decode_gif(bytes(payload))


def test_bmp_roundtrip_all_variants():
    import numpy as np

    from vunnel_spark.operators.multimodal import decode_bmp, encode_bmp

    rng = np.random.default_rng(11)
    for palette in (False, True):
        for top_down in (False, True):
            for w, h in ((8, 8), (9, 5), (13, 7)):  # odd widths: row padding
                if palette:
                    img = (rng.integers(0, 6, (h, w, 3)) * 40).astype(np.uint8)
                else:
                    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
                dec = decode_bmp(encode_bmp(img, palette=palette, top_down=top_down))
                assert np.array_equal(dec, img), (palette, top_down, w, h)


def test_bmp_rejects_unsupported():
    import struct

    import numpy as np
    import pytest

    from vunnel_spark.operators.multimodal import decode_bmp, encode_bmp

    with pytest.raises(ValueError):
        decode_bmp(b"XX" + b"\x00" * 60)
    img = np.zeros((4, 4, 3), np.uint8)
    payload = bytearray(encode_bmp(img))
    struct.pack_into("<I", payload, 14 + 16, 1)  # biCompression = RLE8
    with pytest.raises(NotImplementedError):
        decode_bmp(bytes(payload))


def test_decode_image_dispatches_gif_and_bmp():
    import numpy as np

    from vunnel_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
        encode_gif,
    )

    img = np.zeros((5, 6, 3), np.uint8)
    img[:, :, 0] = np.arange(6)[None, :] * 10
    assert np.array_equal(decode_image(encode_bmp(img)), img)
    assert np.array_equal(decode_image(encode_gif([img])), img)


def test_packbits_roundtrip_property():
    import random

    from vunnel_spark.operators.multimodal import (
        _packbits_decode,
        _packbits_encode,
    )

    rng = random.Random(42)
    for _ in range(30):
        n = rng.choice([0, 1, 2, 5, 128, 129, 1000])
        data = bytearray()
        while len(data) < n:
            if rng.random() < 0.5:
                data += bytes([rng.randrange(256)]) * rng.randrange(1, 300)
            else:
                data += bytes(
                    rng.randrange(256) for _ in range(rng.randrange(1, 20))
                )
        data = bytes(data[:n])
        assert _packbits_decode(_packbits_encode(data), n) == data


def test_tiff_roundtrip_endianness_compression_strips():
    import numpy as np

    from vunnel_spark.operators.multimodal import decode_tiff, encode_tiff

    rng = np.random.default_rng(9)
    for w, h in ((8, 8), (11, 9), (23, 15)):
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        for be in (False, True):
            for pb in (False, True):
                for rps in (1, 4, 64):
                    pay = encode_tiff(
                        img, big_endian=be, packbits=pb, rows_per_strip=rps
                    )
                    assert np.array_equal(decode_tiff(pay), img), (be, pb, rps)


def test_tiff_rejects_unsupported():
    import numpy as np
    import pytest

    from vunnel_spark.operators.multimodal import decode_tiff, encode_tiff

    with pytest.raises(ValueError):
        decode_tiff(b"XXXX" + b"\x00" * 20)
    img = np.zeros((4, 4, 3), np.uint8)
    payload = bytearray(encode_tiff(img))
    # flip Compression (tag 259, entry index 3) to LZW (5)
    import struct

    entry_off = 8 + 2 + 12 * 3
    struct.pack_into("<H", payload, entry_off + 8, 5)
    with pytest.raises(NotImplementedError):
        decode_tiff(bytes(payload))


def test_tiff_rejects_16bit_per_sample():
    """A 16-bit RGB TIFF passes the Compression/Photometric/Samples
    checks; without the BitsPerSample (258) guard it would be silently
    misdecoded as 8-bit."""
    import struct

    import numpy as np
    import pytest

    from vunnel_spark.operators.multimodal import decode_tiff, encode_tiff

    img = np.zeros((4, 4, 3), np.uint8)
    for be, e in ((False, "<"), (True, ">")):
        payload = bytearray(encode_tiff(img, big_endian=be))
        # the encoder lays out BitsPerSample [8,8,8] right after the IFD
        bps_off = 8 + 2 + 12 * 9 + 4
        struct.pack_into(f"{e}HHH", payload, bps_off, 16, 16, 16)
        with pytest.raises(NotImplementedError, match="8-bit"):
            decode_tiff(bytes(payload))


def test_decode_image_dispatches_tiff():
    import numpy as np

    from vunnel_spark.operators.multimodal import decode_image, encode_tiff

    img = np.full((5, 6, 3), 77, np.uint8)
    for be in (False, True):
        assert np.array_equal(
            decode_image(encode_tiff(img, big_endian=be)), img
        )


def test_gif_transparent_index_shows_background_through():
    """GCE transparency (89a §23): pixels holding the transparent color
    index must leave the running canvas untouched — hand-built payload
    since our encoder never sets the flag."""
    import struct

    import numpy as np

    from vunnel_spark.operators.multimodal import (
        _gif_color_table,
        _indexed_palette,
        _lzw_encode,
        decode_gif,
    )

    base = np.zeros((4, 4, 3), np.uint8)
    base[:, :, 2] = 200  # blue background
    # overlay: left half color 50-gray, right half a sentinel color that
    # we declare transparent via its palette index
    over = np.zeros((4, 4, 3), np.uint8)
    over[:, :2] = 50
    over[:, 2:] = 99
    colors, idx = _indexed_palette(over)
    # find the palette index of the (99,99,99) sentinel
    t_idx = int(np.where((colors == 99).all(axis=1))[0][0])

    def img_block(arr, lct):
        c, ix = _indexed_palette(arr)
        bits = max(1, (len(c) - 1).bit_length())
        b = bytearray(b"\x2c") + struct.pack("<HHHH", 0, 0, 4, 4)
        b += bytes([0x80 | (bits - 1) if lct else 0])
        if lct:
            b += _gif_color_table(c)
        mcs = max(2, bits)
        b.append(mcs)
        d = _lzw_encode(bytes(ix.reshape(-1)), mcs)
        b.append(len(d))
        b += d
        b += b"\x00"
        return b

    gcolors, _ = _indexed_palette(base)
    gb = max(1, (len(gcolors) - 1).bit_length())
    p = bytearray(b"GIF89a")
    p += struct.pack("<HHBBB", 4, 4, 0x80 | (7 << 4) | (gb - 1), 0, 0)
    p += _gif_color_table(gcolors)
    p += img_block(base, False)
    # GCE with transparency flag + index, then the overlay frame
    p += b"\x21\xf9\x04" + bytes([0x01]) + struct.pack("<H", 0)
    p += bytes([t_idx]) + b"\x00"
    p += img_block(over, True)
    p.append(0x3B)
    dec = decode_gif(bytes(p))
    assert np.array_equal(dec[0], base)
    exp = base.copy()
    exp[:, :2] = 50  # opaque half painted, transparent half shows blue
    assert np.array_equal(dec[1], exp)


def test_gif_transparency_scoped_to_one_image():
    """A GCE governs exactly the next image block: a third frame with
    no GCE must paint fully opaque again."""
    import struct

    import numpy as np

    from vunnel_spark.operators.multimodal import (
        _gif_color_table,
        _indexed_palette,
        _lzw_encode,
        decode_gif,
    )

    def img_block(arr, lct):
        c, ix = _indexed_palette(arr)
        bits = max(1, (len(c) - 1).bit_length())
        b = bytearray(b"\x2c") + struct.pack("<HHHH", 0, 0, 2, 2)
        b += bytes([0x80 | (bits - 1) if lct else 0])
        if lct:
            b += _gif_color_table(c)
        mcs = max(2, bits)
        b.append(mcs)
        d = _lzw_encode(bytes(ix.reshape(-1)), mcs)
        b.append(len(d))
        b += d
        b += b"\x00"
        return b

    a = np.full((2, 2, 3), 10, np.uint8)
    b_img = np.full((2, 2, 3), 20, np.uint8)
    c_img = np.full((2, 2, 3), 30, np.uint8)
    gcolors, _ = _indexed_palette(a)
    gb = max(1, (len(gcolors) - 1).bit_length())
    p = bytearray(b"GIF89a")
    p += struct.pack("<HHBBB", 2, 2, 0x80 | (7 << 4) | (gb - 1), 0, 0)
    p += _gif_color_table(gcolors)
    p += img_block(a, False)
    # frame 2 fully transparent (its only index declared transparent)
    p += b"\x21\xf9\x04\x01\x00\x00\x00\x00"
    p += img_block(b_img, True)
    # frame 3: NO GCE — must paint opaque
    p += img_block(c_img, True)
    p.append(0x3B)
    dec = decode_gif(bytes(p))
    assert np.array_equal(dec[1], a)      # transparent frame = no-op
    assert np.array_equal(dec[2], c_img)  # scope did not leak


def _gif_img_block(arr, left=0, top=0, lct=True):
    """Shared hand-payload helper: one GIF image block for arr."""
    import struct

    from vunnel_spark.operators.multimodal import (
        _gif_color_table,
        _indexed_palette,
        _lzw_encode,
    )

    c, ix = _indexed_palette(arr)
    bits = max(1, (len(c) - 1).bit_length())
    b = bytearray(b"\x2c")
    b += struct.pack("<HHHH", left, top, arr.shape[1], arr.shape[0])
    b += bytes([0x80 | (bits - 1) if lct else 0])
    if lct:
        b += _gif_color_table(c)
    mcs = max(2, bits)
    b.append(mcs)
    d = _lzw_encode(bytes(ix.reshape(-1)), mcs)
    for i in range(0, len(d), 255):
        chunk = d[i : i + 255]
        b.append(len(chunk))
        b += chunk
    b.append(0)
    return b


def test_gif_disposal_restore_background_and_previous():
    """Disposal 2 clears the frame's region to the LSD background color
    before the next frame; disposal 3 restores the pre-frame canvas —
    the two animation semantics beyond 'leave in place'."""
    import struct

    import numpy as np

    from vunnel_spark.operators.multimodal import (
        _gif_color_table,
        _indexed_palette,
        decode_gif,
    )

    base = np.full((4, 4, 3), 10, np.uint8)
    patch = np.full((2, 2, 3), 77, np.uint8)
    probe = np.full((1, 1, 3), 200, np.uint8)  # 1px frame: exposes base
    gcolors, _ = _indexed_palette(base)
    gb = max(1, (len(gcolors) - 1).bit_length())

    def header(bg_index):
        p = bytearray(b"GIF89a")
        p += struct.pack("<HHBBB", 4, 4, 0x80 | (7 << 4) | (gb - 1),
                         bg_index, 0)
        p += _gif_color_table(gcolors)
        return p

    def gce(disposal):
        return b"\x21\xf9\x04" + bytes([disposal << 2]) + b"\x00\x00\x00\x00"

    # --- disposal 2: after frame 2 (patch at (1,1)), its region must
    # read the background color (index 0 -> color 10) in frame 3's base
    p = header(0)
    p += _gif_img_block(base, lct=False)
    p += gce(2)
    p += _gif_img_block(patch, left=1, top=1)
    p += _gif_img_block(probe, left=3, top=3)
    p.append(0x3B)
    dec = decode_gif(bytes(p))
    exp2 = base.copy()
    exp2[1:3, 1:3] = 77
    assert np.array_equal(dec[1], exp2)
    exp3 = base.copy()          # patch region restored to bg color 10
    exp3[3, 3] = 200
    assert np.array_equal(dec[2], exp3)

    # --- disposal 3: frame 3's base must be the canvas BEFORE frame 2
    p = header(0)
    p += _gif_img_block(base, lct=False)
    p += gce(3)
    p += _gif_img_block(patch, left=1, top=1)
    p += _gif_img_block(probe, left=3, top=3)
    p.append(0x3B)
    dec = decode_gif(bytes(p))
    assert np.array_equal(dec[1], exp2)     # patch painted
    assert np.array_equal(dec[2], exp3)     # ...then fully undone


def test_ico_roundtrip_both_entry_styles():
    import numpy as np

    from vunnel_spark.operators.multimodal import (
        decode_ico,
        decode_image,
        encode_ico,
    )

    rng = np.random.default_rng(4)
    imgs = [
        rng.integers(0, 256, (9, 13, 3), dtype=np.uint8),
        rng.integers(0, 256, (8, 8, 3), dtype=np.uint8),
        rng.integers(0, 256, (5, 21, 3), dtype=np.uint8),
    ]
    for style in (lambda i: True, lambda i: False, lambda i: i % 2 == 0):
        dec = decode_ico(encode_ico(imgs, png_entry=style))
        assert len(dec) == 3
        for a, b in zip(imgs, dec):
            assert np.array_equal(a, b)
    # decode_image dispatch: first entry
    pay = encode_ico(imgs)
    assert np.array_equal(decode_image(pay), imgs[0])


def test_ico_rejects_malformed():
    import pytest

    from vunnel_spark.operators.multimodal import decode_ico

    with pytest.raises(ValueError):
        decode_ico(b"\x01\x00\x01\x00\x01\x00" + b"\x00" * 20)


def test_ico_gray_alpha_png_entry_replicates_rgb():
    """A gray+alpha (color type 4) PNG entry must honor the (h, w, 3)
    RGB contract: gray replicated across channels, alpha dropped —
    unreachable from the synthesizer but valid in external ICOs."""
    import numpy as np

    from vunnel_spark.operators.multimodal import decode_ico, encode_ico

    rng = np.random.default_rng(11)
    ga = rng.integers(0, 256, (7, 9, 2), dtype=np.uint8)
    dec = decode_ico(encode_ico([ga], png_entry=lambda i: True))
    assert len(dec) == 1
    assert dec[0].shape == (7, 9, 3)
    assert np.array_equal(dec[0], np.repeat(ga[:, :, :1], 3, axis=2))


def test_llm2_dedup_accounting(spark, sf_dir):
    """The multimodal DAG's per-source accounting: unique <= media,
    media sums to corpus size (originals + every-5th dups), and at
    least one duplicate collapsed in some source (the synthetic dups
    guarantee work for the dedup stage)."""
    from pyspark.sql import functions as F

    from vunnel_spark.registry import REGISTRY, _ensure_loaded
    from vunnel_spark.session import load_table

    _ensure_loaded()
    rows = REGISTRY["llm2_media_corpus_dag"].fn(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    n_dups = docs.filter(F.col("doc_id") % 5 == 0).count()
    assert sum(r["n_media"] for r in rows) == n + n_dups
    assert all(r["n_unique"] <= r["n_media"] for r in rows)
    assert sum(r["n_media"] - r["n_unique"] for r in rows) >= n_dups


def test_webm_probe_roundtrip_multicluster():
    from vunnel_spark.operators.multimodal import (
        encode_vp8_frame,
        encode_webm_vp8,
        probe_webm_vp8,
    )

    frames = [
        encode_vp8_frame(i % 3 == 0, 116, 44, (7 + 11 * i) % 200 + 10, fill=i)
        for i in range(7)
    ]
    probe = probe_webm_vp8(encode_webm_vp8(frames, 116, 44))
    assert probe["codec"] == "V_VP8"
    assert (probe["track_width"], probe["track_height"]) == (116, 44)
    assert probe["timestamp_scale"] == 1_000_000
    assert len(probe["frames"]) == 7
    for i, fr in enumerate(probe["frames"]):
        assert fr["keyframe"] == (i % 3 == 0)
        assert fr["block_keyframe"] == fr["keyframe"]
        # 4 frames/cluster, 1000ms clusters, 40ms frame spacing
        assert fr["ts_ms"] == (i // 4) * 1000 + (i % 4) * 40
        assert fr["part_size"] == (7 + 11 * i) % 200 + 10
        if fr["keyframe"]:
            assert (fr["width"], fr["height"]) == (116, 44)
        else:
            assert fr["width"] is None and fr["height"] is None


def test_webm_probe_rejects_malformed():
    import pytest

    from vunnel_spark.operators.multimodal import (
        _ebml_el,
        _ebml_uint,
        encode_vp8_frame,
        encode_webm_vp8,
        parse_vp8_frame_header,
        probe_webm_vp8,
    )

    with pytest.raises(ValueError, match="EBML"):
        probe_webm_vp8(b"\x00\x00\x00\x00" + b"x" * 20)
    # wrong DocType
    bad = bytearray(encode_webm_vp8([encode_vp8_frame(True, 8, 8, 12)], 8, 8))
    i = bytes(bad).find(b"webm")
    bad[i : i + 4] = b"webX"
    with pytest.raises(ValueError, match="DocType"):
        probe_webm_vp8(bytes(bad))
    # keyframe with corrupted sync code
    kf = bytearray(encode_vp8_frame(True, 8, 8, 12))
    kf[3] = 0x00
    with pytest.raises(ValueError, match="sync"):
        parse_vp8_frame_header(bytes(kf))
    # non-VP8 codec id
    payload = bytearray(encode_webm_vp8([encode_vp8_frame(True, 8, 8, 12)], 8, 8))
    j = bytes(payload).find(b"V_VP8")
    payload[j : j + 5] = b"V_VP9"
    with pytest.raises(NotImplementedError, match="V_VP8"):
        probe_webm_vp8(bytes(payload))
    # the honest stub: EBML payloads do NOT pixel-decode
    from vunnel_spark.operators.multimodal import decode_image

    good = encode_webm_vp8([encode_vp8_frame(True, 8, 8, 12)], 8, 8)
    with pytest.raises(NotImplementedError):
        decode_image(good)
    _ = _ebml_el, _ebml_uint  # imported to keep names covered


def test_webm_ebml_varint_edges():
    """EBML size coding across width classes: the marker bit must mask
    off for sizes and the decoder must agree with the encoder for 1-, 2-
    and 3-byte widths (including the all-ones avoidance at 127)."""
    from vunnel_spark.operators.multimodal import (
        _ebml_read_vint,
        _ebml_size_encode,
    )

    for v in (0, 1, 126, 127, 128, 16382, 16383, 16384, 2097151):
        enc = _ebml_size_encode(v)
        got, pos = _ebml_read_vint(enc, 0, mask_marker=True)
        assert got == v and pos == len(enc), v


def test_jpeg_decode_tables_built_once_and_left_as_built():
    """Each distinct DHT table is inverted once, through a bounded memo
    keyed on the table's bytes (they are untrusted), and every decode with
    that table shares the dict.  No decoder may change it: a second decode
    of each payload gives the same pixels, and each shared table still
    equals a fresh build."""
    from vunnel_spark.operators import multimodal as mm

    rng = np.random.default_rng(3)
    gray = rng.integers(0, 256, (32, 48), dtype=np.uint8)
    rgb = rng.integers(0, 256, (32, 48, 3), dtype=np.uint8)
    payloads = [
        mm.encode_jpeg_gray(gray), mm.encode_jpeg_gray(gray, restart_interval=2),
        mm.encode_jpeg_rgb(rgb), mm.encode_jpeg_rgb420(rgb),
        mm.encode_jpeg_gray_progressive(gray), mm.encode_jpeg_rgb420_progressive(rgb),
    ]
    specs = [bytes(bits + list(vals)) for bits, vals in (
        (mm._JPEG_DC_BITS, mm._JPEG_DC_VALS), (mm._JPEG_AC_BITS, mm._JPEG_AC_VALS),
        (mm._JPEG_PROG_AC_BITS, mm._JPEG_PROG_AC_VALS))]
    mm._jpeg_decode_table.cache_clear()
    first = [mm.decode_jpeg(p) for p in payloads]
    again = [mm.decode_jpeg(p) for p in payloads]
    assert all(np.array_equal(a, b) for a, b in zip(first, again))
    info = mm._jpeg_decode_table.cache_info()
    assert info.misses == len(specs) and info.hits > 0, info
    assert info.maxsize is not None
    for spec in specs:
        assert mm._jpeg_decode_table(spec) == mm._jpeg_decode_table.__wrapped__(spec)

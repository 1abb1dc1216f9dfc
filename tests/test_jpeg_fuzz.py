"""Mutation fuzzing of the JPEG decoder, seeded from this package's own
encoders: the six public ones (baseline and progressive; gray, 4:4:4 and
4:2:0 colour) plus a baseline stream with a restart interval.

Every mutant must either decode to an image or raise ``ValueError`` /
``NotImplementedError``, and no decode may run past a time limit.  JPEG
has no checksum, so a flipped entropy-coded bit may decode to other
pixels; what is checked is that the marker walk, the table parsers and
the scan decoders reject what they cannot read with a typed error.  The
mutations are truncation at every byte and every single-bit flip.  No
Spark.
"""

from __future__ import annotations

import signal

import numpy as np
import pytest

from vunnel_spark.operators import multimodal as mm

#: seconds one decode may take: a valid stream here decodes in about 1 ms
LIMIT_S = 2.0


def _streams():
    # random gray fills every AC band; the colour seeds are gradients with
    # some noise, so their streams (three or six blocks per MCU) stay short
    rng = np.random.default_rng(16)
    gray = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    yy, xx = np.mgrid[0:16, 0:16]
    rgb = np.stack([8 * yy, 8 * xx, 255 - 8 * xx], axis=2) + rng.integers(0, 16, (16, 16, 3))
    rgb = rgb.astype(np.uint8)
    for name in ("encode_jpeg_gray", "encode_jpeg_gray_progressive"):
        yield name, getattr(mm, name)(gray)
    yield "encode_jpeg_gray[restart_interval=1]", mm.encode_jpeg_gray(gray, restart_interval=1)
    for name in ("encode_jpeg_rgb", "encode_jpeg_rgb_progressive", "encode_jpeg_rgb420",
                 "encode_jpeg_rgb420_progressive"):
        yield name, getattr(mm, name)(rgb)


STREAMS = list(_streams())


def _mutants(payload: bytes):
    for cut in range(len(payload)):
        yield f"truncated to {cut} bytes", payload[:cut]
    for bit in range(16, len(payload) * 8):
        flipped = bytearray(payload)
        flipped[bit // 8] ^= 0x80 >> (bit % 8)
        yield f"bit {bit} flipped", bytes(flipped)


def _timeout(signum, frame):
    raise TimeoutError(f"decode ran past {LIMIT_S} s")


@pytest.mark.parametrize(("name", "payload"), STREAMS, ids=[s[0] for s in STREAMS])
def test_jpeg_mutants_decode_or_raise(name, payload):
    mm.decode_jpeg(payload)
    previous = signal.signal(signal.SIGALRM, _timeout)
    outcomes = {"decoded": 0, "ValueError": 0, "NotImplementedError": 0}
    try:
        for what, mutant in _mutants(payload):
            signal.setitimer(signal.ITIMER_REAL, LIMIT_S)
            try:
                got = mm.decode_jpeg(mutant)
            except (ValueError, NotImplementedError) as e:
                outcomes[type(e).__name__] += 1
            except Exception as e:  # noqa: BLE001 - any other outcome is the failure
                pytest.fail(f"{what}: {type(e).__name__}: {e}")
            else:
                assert got.dtype == np.uint8 and got.ndim in (2, 3), what
                outcomes["decoded"] += 1
            finally:
                signal.setitimer(signal.ITIMER_REAL, 0)
    finally:
        signal.signal(signal.SIGALRM, previous)
    assert outcomes["ValueError"] > 100, outcomes

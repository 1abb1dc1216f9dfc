"""Mutation fuzzing of the FLAC decoder, seeded from this package's own
encoders: mono and stereo payloads with FIXED and LPC subframes.

Every mutant must either decode to the original samples or raise
``ValueError`` / ``NotImplementedError``, and no decode may run past a
time limit.  The mutations are truncation at every byte, single-bit flips
(as they are, and with the frame CRC-16 made to match so the flip reaches
the subframe parser), a rice parameter set to the escape code, and a raised
partition order.  No Spark.
"""

from __future__ import annotations

import signal

import numpy as np
import pytest

from vunnel_spark.operators import multimodal as mm

#: seconds one decode may take: a valid clip here decodes in about 1 ms
LIMIT_S = 2.0

#: bytes before the first frame: "fLaC" and one STREAMINFO block
FRAME_START = 4 + 4 + 34

#: the frame header: sync, codes, 16-bit blocksize and CRC-8
HEADER_BYTES = 8


def _clips():
    n = 200
    left, right = mm._sine(n, 440, 9000), mm._sine(n, 330, 7000)
    yield "mono-fixed", mm.encode_flac(left, 8000), left
    yield "mono-lpc", mm.encode_flac(left, 8000, method="lpc"), left
    for mode, method in (("lr", "lpc"), ("ls", "fixed"), ("rs", "lpc"), ("ms", "fixed"),
                         ("ms", "lpc")):
        yield (f"stereo-{mode}-{method}",
               mm.encode_flac_stereo(left, right, 8000, mode=mode, method=method),
               np.stack([left, right], axis=1))


CLIPS = list(_clips())


def _with_frame_crc(payload: bytes) -> bytes:
    """``payload`` (one frame) with its CRC-16 recomputed."""
    return payload[:-2] + mm._crc16(payload[:-2]).to_bytes(2, "big")


def _residual_fields(payload: bytes):
    """Bit offsets of each subframe's partition order and first rice
    parameter, found by walking the valid payload with the decoder's own
    reader."""
    stereo = payload[FRAME_START + 3] >> 4 != 0
    side = {0b1000: (16, 17), 0b1001: (17, 16), 0b1010: (16, 17)}
    widths = side.get(payload[FRAME_START + 3] >> 4, (16, 16))
    br = mm._PlainBitReader(payload, FRAME_START + HEADER_BYTES)
    fields = []
    for bits in widths[: 2 if stereo else 1]:
        start = br.byte * 8 + br.bit
        probe = mm._PlainBitReader(payload, br.byte)
        probe.bit = br.bit
        stype = probe.read_bits(7) & 0x3F  # after the padding bit
        if stype >= 32:  # LPC: warmup, precision, shift, coefficients
            order = (stype & 0x1F) + 1
            head = 8 + order * bits + 4 + 5 + order * 12
        else:  # FIXED
            order = stype - 8
            head = 8 + order * bits
        porder_at = start + head + 2  # after the 2-bit residual method
        assert _get_bits(payload, porder_at, 4) == 0  # the encoder's one partition
        fields.append((porder_at, porder_at + 4))  # partition order, rice parameter
        mm._read_flac_subframe(br, 200, bits)
    return fields


def _get_bits(payload: bytes, at: int, width: int) -> int:
    return int.from_bytes(payload, "big") >> (len(payload) * 8 - at - width) & ((1 << width) - 1)


def _set_bits(payload: bytes, at: int, width: int, value: int) -> bytes:
    n = int.from_bytes(payload, "big")
    shift = len(payload) * 8 - at - width
    n = (n & ~(((1 << width) - 1) << shift)) | (value << shift)
    return n.to_bytes(len(payload), "big")


def _mutants(payload: bytes):
    for cut in range(len(payload)):
        yield f"truncated to {cut} bytes", payload[:cut]
    for bit in range(FRAME_START * 8, len(payload) * 8, 4):
        flipped = bytearray(payload)
        flipped[bit // 8] ^= 0x80 >> (bit % 8)
        yield f"bit {bit} flipped", bytes(flipped)
        yield f"bit {bit} flipped, CRC-16 matched", _with_frame_crc(bytes(flipped))
    for porder_at, rice_at in _residual_fields(payload):
        yield f"rice parameter at bit {rice_at} escaped", _with_frame_crc(
            _set_bits(payload, rice_at, 4, 0b1111))
        for porder in range(1, 16):
            yield f"partition order at bit {porder_at} set to {porder}", _with_frame_crc(
                _set_bits(payload, porder_at, 4, porder))


def _timeout(signum, frame):
    raise TimeoutError(f"decode ran past {LIMIT_S} s")


@pytest.mark.parametrize(("name", "payload", "samples"), CLIPS, ids=[c[0] for c in CLIPS])
def test_flac_mutants_decode_exactly_or_raise(name, payload, samples):
    assert np.array_equal(mm.decode_flac(payload)[0], samples)
    previous = signal.signal(signal.SIGALRM, _timeout)
    outcomes = {"same samples": 0, "ValueError": 0, "NotImplementedError": 0}
    try:
        for what, mutant in _mutants(payload):
            signal.setitimer(signal.ITIMER_REAL, LIMIT_S)
            try:
                got, _ = mm.decode_flac(mutant)
            except (ValueError, NotImplementedError) as e:
                outcomes[type(e).__name__] += 1
            except Exception as e:  # noqa: BLE001 - any other outcome is the failure
                pytest.fail(f"{what}: {type(e).__name__}: {e}")
            else:
                assert np.array_equal(got, samples), f"{what}: wrong samples returned"
                outcomes["same samples"] += 1
            finally:
                signal.setitimer(signal.ITIMER_REAL, 0)
    finally:
        signal.signal(signal.SIGALRM, previous)
    assert outcomes["ValueError"] > 100, outcomes

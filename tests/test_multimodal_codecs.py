"""Pure-Python WAV (RIFF) and PPM (P6) codecs — the formats the
multimodal operators really decode. No Spark needed: these
pin the container grammar (round-trip, chunk walking, comment handling)
and the malformed-input failure modes the mapInPandas operators rely
on."""

from __future__ import annotations

import numpy as np
import pytest

from fiat2_spark.operators.multimodal import (
    ppm_decode,
    ppm_encode,
    wav_decode,
    wav_encode,
)


def test_wav_roundtrip():
    samples = [((i * 7 + 3) % 256) - 128 for i in range(300)]
    rate, out = wav_decode(wav_encode(samples, sample_rate=16000))
    assert rate == 16000
    assert out.dtype == np.dtype("<i2")
    assert list(out) == samples


def test_wav_chunk_walk_skips_unknown_chunks():
    """A LIST metadata chunk (with odd size → pad byte) between fmt and
    data must be skipped, not break the parse — real WAVs carry them."""
    base = wav_encode([1, -2, 3])
    # splice an unknown 3-byte chunk (odd → 1 pad byte) before 'data'
    data_at = base.index(b"data")
    spliced = base[:data_at] + b"LIST" + (3).to_bytes(4, "little") + b"abc\x00" + base[data_at:]
    _rate, out = wav_decode(spliced)
    assert list(out) == [1, -2, 3]


@pytest.mark.parametrize(
    "buf",
    [
        b"",
        b"RIFFxxxx",  # too short / wrong magic tail
        b"OggS" + b"\x00" * 40,  # not RIFF
        wav_encode([1, 2])[:20],  # truncated: no data chunk
    ],
)
def test_wav_rejects_malformed(buf):
    with pytest.raises(ValueError):
        wav_decode(buf)


def test_ppm_roundtrip_and_comments():
    rgb = bytes(range(4 * 3 * 3))
    w, h, out = ppm_decode(ppm_encode(4, 3, rgb))
    assert (w, h) == (4, 3)
    assert bytes(out) == rgb
    commented = b"P6\n# c1\n4 3 # trailing\n255\n" + rgb
    w, h, out = ppm_decode(commented)
    assert (w, h) == (4, 3)
    assert bytes(out) == rgb


@pytest.mark.parametrize(
    "buf",
    [
        b"P5\n1 1\n255\n\x00",  # wrong magic (P5 is grayscale)
        b"P6\n2 2\n65535\n" + b"\x00" * 12,  # 16-bit maxval unsupported
        b"P6\n4 3\n255\n" + b"\x00" * 5,  # truncated pixel plane
        b"P6\n4 x\n255\n",  # non-numeric dimension
    ],
)
def test_ppm_rejects_malformed(buf):
    with pytest.raises(ValueError):
        ppm_decode(buf)

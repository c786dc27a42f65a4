"""Hypothesis property tests for the media codecs:
roundtrip invariants over GENERATED inputs, not just the fixture
shapes the oracle gate uses. Driver-side only (no Spark) — runs in
milliseconds per example.
"""

from __future__ import annotations

import struct

from hypothesis import given, settings
from hypothesis import strategies as st

from zoom_spark.multimodal.codecs import (
    decode_ppm,
    decode_wav,
    encode_ppm,
    encode_wav,
    resize_ppm,
)

pixels = st.tuples(
    st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)
)


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 12),
    data=st.data(),
)
def test_ppm_roundtrip_lossless(w, h, data):
    """PPM is lossless: decode(encode(rgb)) recovers dims, pixel
    count, and the exact integer channel totals for ANY image."""
    rgb = data.draw(
        st.lists(pixels, min_size=w * h, max_size=w * h)
    )
    d = decode_ppm(encode_ppm(w, h, rgb))
    assert (d["width"], d["height"], d["n_units"]) == (w, h, w * h)
    assert d["sum_pixels"] == sum(sum(p) for p in rgb)


@settings(max_examples=60, deadline=None)
@given(
    n=st.integers(1, 200),
    ch=st.integers(1, 2),
    rate=st.sampled_from([8000, 11025, 16000, 44100]),
    data=st.data(),
)
def test_wav_roundtrip_header_and_samples(n, ch, rate, data):
    """WAV roundtrip: header fields survive exactly and the decoded
    PCM matches the encoder's quantization for ANY sample stream."""
    samples = data.draw(
        st.lists(
            st.floats(min_value=-1.0, max_value=1.0, allow_nan=False),
            min_size=n * ch,
            max_size=n * ch,
        )
    )
    raw = encode_wav(samples, rate, ch)
    d = decode_wav(raw)
    assert d["n_channels"] == ch
    assert d["sample_rate"] == rate
    assert d["n_units"] == n
    # decoded peak equals the quantized peak of the input
    q = [
        max(-32768, min(32767, int(round(s * 32767.0)))) for s in samples
    ]
    expect_peak = max((abs(x) for x in q), default=0) / 32767.0
    assert abs(d["peak_val"] - expect_peak) < 1e-12
    # and the raw PCM bytes are exactly the quantized stream
    assert raw[-2 * len(q):] == struct.pack(f"<{len(q)}h", *q)


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 10),
    h=st.integers(1, 10),
    ow=st.integers(1, 10),
    oh=st.integers(1, 10),
    data=st.data(),
)
def test_ppm_resize_dims_and_pixel_provenance(w, h, ow, oh, data):
    """NN resize to ANY dims: output header is (ow, oh) and every
    output pixel is copied verbatim from its floor-mapped source."""
    rgb = data.draw(st.lists(pixels, min_size=w * h, max_size=w * h))
    out = decode_ppm(resize_ppm(encode_ppm(w, h, rgb), ow, oh))
    assert (out["width"], out["height"]) == (ow, oh)
    expect = 0
    for yo in range(oh):
        ys = yo * h // oh
        for xo in range(ow):
            xs = xo * w // ow
            expect += sum(rgb[ys * w + xs])
    assert out["sum_pixels"] == expect

"""Property-based codec tests (hypothesis): random signals and images
round-trip the pure-numpy WAV codec within its quantization bound, and
nearest-neighbour resize keeps shape and value domain.  Complements the
fixed-vector codec tests the same way the extraction fuzz complements
the extraction goldens."""

import numpy as np
from hypothesis import given, settings, strategies as st

from quality_filter.operators.rawcodecs import decode_wav, encode_wav, resize_nearest

dims = st.tuples(st.integers(1, 24), st.integers(1, 24))


def _img(w, h, seed, lo=0, hi=256):
    return np.random.default_rng(seed).integers(lo, hi, size=(h, w, 3), dtype=np.uint8)


@settings(max_examples=15, deadline=None)
@given(st.integers(1, 5000), st.sampled_from([8000, 16000, 44100]), st.integers(0, 2**31 - 1))
def test_wav_quantization_bound(n, rate, seed):
    sig = np.random.default_rng(seed).uniform(-1, 1, n)
    samples, r = decode_wav(encode_wav(sig, rate))
    assert r == rate and len(samples) == n
    # encode scales by 32767 and truncates; decode divides by 32768
    assert np.abs(samples - sig).max() <= 2.0 / 32767


@settings(max_examples=15, deadline=None)
@given(dims, dims, st.integers(0, 2**31 - 1))
def test_resize_shape_and_value_domain(dim_in, dim_out, seed):
    w, h = dim_in
    ow, oh = dim_out
    px = _img(w, h, seed)
    out = resize_nearest(px, ow, oh)
    assert out.shape == (oh, ow, 3)
    # every output pixel is an input pixel (nearest neighbor)
    assert set(np.unique(out)) <= set(np.unique(px))

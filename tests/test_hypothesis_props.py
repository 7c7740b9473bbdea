"""Hypothesis property tests for the pure-numpy kernels (SURVEY.md 5.2
item 3 -- true generative sweeps, complementing the fixed-seed sweeps in
test_properties.py). No Spark session: these target the codec and hashing
kernels whose correctness the Spark plumbing inherits.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

# ---------------------------------------------------------------- WAV


def _encode_pcm16(x: np.ndarray, rate: int, n_ch: int) -> bytes:
    pcm = (
        np.tile(
            np.round(np.clip(x, -1, 1) * 32767).astype("<i2").reshape(-1, 1),
            (1, n_ch),
        )
        .reshape(-1)
        .tobytes()
    )
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * 2 * n_ch, 2 * n_ch, 16)
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


@settings(max_examples=60, deadline=None)
@given(
    samples=st.lists(
        st.floats(min_value=-1.0, max_value=1.0, allow_nan=False), min_size=1,
        max_size=400,
    ),
    rate=st.sampled_from([8000, 16000, 44100]),
    n_ch=st.integers(min_value=1, max_value=4),
)
def test_wav_pcm16_roundtrip(samples, rate, n_ch):
    """decode(encode(x)) recovers any waveform to 16-bit quantization
    accuracy, at any sample rate and channel count (identical channels
    mix back to the same mono signal)."""
    from lsh_for_source_code_spark.functions.wav import decode_wav

    x = np.asarray(samples, dtype=np.float32)
    got, got_rate = decode_wav(_encode_pcm16(x, rate, n_ch))
    assert got_rate == rate
    assert got.shape == x.shape
    # error bound: 0.5/32767 encoder rounding + |x|/32768 scale mismatch
    assert np.allclose(got, x, atol=1.6 / 32768)


@settings(max_examples=30, deadline=None)
@given(
    samples=st.lists(
        st.floats(min_value=-1.0, max_value=1.0, allow_nan=False), min_size=1,
        max_size=400,
    ),
    n_frames=st.integers(min_value=1, max_value=16),
)
def test_audio_feature_bounds_and_determinism(samples, n_frames):
    """RMS windows lie in [0, 1], ZCR windows in [0, 1], output length is
    2*n_frames, and the feature is a pure function of the samples."""
    from lsh_for_source_code_spark.functions.wav import audio_feature

    x = np.asarray(samples, dtype=np.float32)
    f = audio_feature(x, n_frames=n_frames)
    assert f.shape == (2 * n_frames,)
    assert np.isfinite(f).all()
    assert (f >= 0).all() and (f <= 1.0 + 1e-6).all()
    assert np.array_equal(f, audio_feature(x.copy(), n_frames=n_frames))


# ---------------------------------------------------------------- PNG


def _encode_png_f0(px: np.ndarray) -> bytes:
    h, w, c = px.shape
    ct = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))

    def chunk(t, body):
        return (
            struct.pack(">I", len(body)) + t + body
            + struct.pack(">I", zlib.crc32(t + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=12),
    w=st.integers(min_value=1, max_value=12),
    c=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(min_value=0, max_value=2**32 - 1),
)
def test_png_roundtrip_any_shape(h, w, c, seed):
    """decode_png recovers exact pixels for any image shape and every
    supported channel count (filter-type coverage is the fixed test in
    test_incremental_multimodal; this sweeps geometry)."""
    from lsh_for_source_code_spark.functions.png import decode_png

    px = np.random.default_rng(seed).integers(0, 256, size=(h, w, c), dtype=np.uint8)
    assert (decode_png(_encode_png_f0(px)) == px).all()


# ---------------------------------------------------------------- LCS


def _lcs_dp(a: str, b: str) -> int:
    """Quadratic DP longest-common-SUBSTRING oracle."""
    best = 0
    prev = [0] * (len(b) + 1)
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        for j in range(1, len(b) + 1):
            if a[i - 1] == b[j - 1]:
                cur[j] = prev[j - 1] + 1
                best = max(best, cur[j])
        prev = cur
    return best


@settings(max_examples=80, deadline=None)
@given(
    a=st.text(alphabet="abAB \n{};", max_size=60),
    b=st.text(alphabet="abAB \n{};", max_size=60),
)
def test_lcs_rolling_hash_matches_dp(a, b):
    """The binary-search-on-length rolling-hash LCS equals the exact DP
    longest-common-substring length on arbitrary strings over a small
    alphabet (small alphabets maximize repeated substrings, the stress
    case for hash-collision and search-monotonicity bugs)."""
    from lsh_for_source_code_spark.operators.verify import _lcs_len

    ca = np.frombuffer(a.encode("utf-8"), dtype=np.uint8)
    cb = np.frombuffer(b.encode("utf-8"), dtype=np.uint8)
    assert _lcs_len(ca, cb) == _lcs_dp(a, b)


# ---------------------------------------------------------------- MinHash


@settings(max_examples=40, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.integers(min_value=0, max_value=2**61 - 2), max_size=30),
        min_size=1,
        max_size=8,
    ),
    num_perm=st.sampled_from([4, 16, 33]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_minhash_concat_matches_per_doc_naive(docs, num_perm, seed):
    """The batched segmented-min MinHash kernel equals the naive per-doc
    per-permutation min for arbitrary ragged batches -- including empty
    docs anywhere in the batch (the r1/r2 reduceat regression class)."""
    from lsh_for_source_code_spark.config import MERSENNE_61
    from lsh_for_source_code_spark.functions.hashing import (
        minhash_coefficients,
        minhash_concat,
    )

    a, b = minhash_coefficients(num_perm, seed)
    flat = np.concatenate(
        [np.asarray(d, dtype=np.uint64) for d in docs]
    ) if any(docs) else np.empty(0, dtype=np.uint64)
    offsets = np.zeros(len(docs) + 1, dtype=np.int64)
    np.cumsum([len(d) for d in docs], out=offsets[1:])
    got = minhash_concat(flat, offsets, a, b)
    for i, d in enumerate(docs):
        if not d:
            expect = np.full(num_perm, MERSENNE_61, dtype=np.uint64)
        else:
            x = np.asarray(d, dtype=np.uint64)
            expect = np.array(
                [
                    int(
                        min(
                            (int(aa) * int(v) + int(bb)) % MERSENNE_61
                            for v in x
                        )
                    )
                    for aa, bb in zip(a.tolist(), b.tolist())
                ],
                dtype=np.uint64,
            )
        assert np.array_equal(got[i], expect), i


# ---------------------------------------------------------------- Winnowing


def _winnow_brute(text: str, k: int, w: int, base: int):
    """Literal transcription of the SIGMOD'03 definition: python ints,
    explicit window loop, rightmost-min scan."""
    codes = [ord(c) for c in text]
    n = len(codes)
    if n < k:
        return set()
    h = [
        sum(codes[i + j] * base ** (k - 1 - j) for j in range(k))
        for i in range(n - k + 1)
    ]
    nh = len(h)
    sel = set()
    for ws in range(max(nh - w, 0) + 1):
        window = h[ws : ws + w]
        mn = min(window)
        pos = ws + max(i for i, v in enumerate(window) if v == mn)
        sel.add((pos, h[pos]))
    return sel


@settings(max_examples=80, deadline=None)
@given(
    text=st.text(alphabet="abcX {}\n;", max_size=120),
    k=st.integers(min_value=2, max_value=6),
    w=st.integers(min_value=1, max_value=9),
)
def test_winnow_matches_brute_force(text, k, w):
    """The vectorized winnowing kernel equals the literal per-window
    definition for arbitrary text and (k, w)."""
    from lsh_for_source_code_spark.functions.winnow import winnow_doc

    pos, fp = winnow_doc(text, k=k, w=w)
    assert set(zip(pos.tolist(), fp.tolist())) == _winnow_brute(text, k, w, 263)


@settings(max_examples=40, deadline=None)
@given(
    prefix_a=st.text(alphabet="ab", max_size=30),
    prefix_b=st.text(alphabet="cd", max_size=30),
    shared=st.text(alphabet="xyz{};", min_size=12, max_size=40),
)
def test_winnow_guarantee_shared_substring(prefix_a, prefix_b, shared):
    """SIGMOD'03 guarantee: two documents sharing a substring of length
    >= w + k - 1 share at least one fingerprint HASH (k=5, w=8 ->
    threshold 12; `shared` is always at least that long)."""
    from lsh_for_source_code_spark.functions.winnow import winnow_doc

    _, fa = winnow_doc(prefix_a + shared)
    _, fb = winnow_doc(prefix_b + shared)
    assert set(fa.tolist()) & set(fb.tolist())


# ---------------------------------------------------------------- JPEG


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    gray=st.booleans(),
    sub=st.sampled_from(["444", "420"]),
    ri=st.sampled_from([0, 3]),
    seed=st.integers(min_value=0, max_value=2**32 - 1),
)
def test_jpeg_q100_error_analytically_bounded(h, w, gray, sub, ri, seed):
    """At quality 100 every quantization step is 1, so per-coefficient
    rounding error is <= 0.5 and the IDCT amplifies a block's worst case to
    at most 64 * 0.5 * 0.5 * 0.5 = 8 luminance levels (orthonormal basis
    entries are <= 0.5); color conversion and 4:2:0 chroma box-mean widen
    that, but grayscale must honor the analytic bound for ANY image --
    including pure noise -- at any geometry, with or without restarts."""
    from lsh_for_source_code_spark.functions.jpeg import decode_jpeg, encode_jpeg

    shape = (h, w) if gray else (h, w, 3)
    px = np.random.default_rng(seed).integers(0, 256, size=shape, dtype=np.uint8)
    got = decode_jpeg(encode_jpeg(px, quality=100, subsampling=sub, restart_interval=ri))
    assert got.shape == (h, w, 1 if gray else 3)
    if gray:
        err = np.abs(got[:, :, 0].astype(int) - px.astype(int)).max()
        assert err <= 9  # 8 + final-round half-ulp


# ------------------------------------------------------------ suffix array


@settings(max_examples=60, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=2**32 - 1),
    n=st.integers(min_value=1, max_value=50),
    alpha=st.integers(min_value=1, max_value=5),
)
def test_suffix_array_matches_naive_sort(seed, n, alpha):
    """Prefix-doubling SA must equal the naively sorted suffix order for
    any sequence, including heavy-repeat low-alphabet inputs where the
    doubling re-rank is most stressed."""
    from lsh_for_source_code_spark.functions.suffix import suffix_array

    s = np.random.default_rng(seed).integers(0, alpha, n)
    sa = suffix_array(s)
    naive = sorted(range(n), key=lambda i: tuple(s[i:]))
    assert list(sa) == naive


@settings(max_examples=80, deadline=None)
@given(
    a=st.text(alphabet="abAB \n{};", max_size=60),
    b=st.text(alphabet="abAB \n{};", max_size=60),
)
def test_lcs_suffix_array_matches_dp_and_hash(a, b):
    """The certified-exact suffix-array LCS must equal the quadratic DP
    oracle AND the production rolling-hash bisection on the same pair --
    the deterministic cross-check for the Monte-Carlo channel."""
    from lsh_for_source_code_spark.functions.suffix import lcs_len_suffix_array
    from lsh_for_source_code_spark.operators.verify import _lcs_len

    ca = np.frombuffer(a.encode("utf-8"), dtype=np.uint8)
    cb = np.frombuffer(b.encode("utf-8"), dtype=np.uint8)
    want = _lcs_dp(a.encode("utf-8").decode("latin-1"), b.encode("utf-8").decode("latin-1"))
    assert lcs_len_suffix_array(ca, cb) == want
    assert _lcs_len(ca, cb) == want


def test_lcs_udf_impls_agree():
    """The hash LCS containment UDF must score every pair identically to
    the exact suffix-array LCS over min(len) (plain-batch hook, no
    Spark)."""
    from lsh_for_source_code_spark.functions.suffix import lcs_len_suffix_array
    from lsh_for_source_code_spark.operators.verify import make_lcs_containment_udf

    rng = np.random.default_rng(11)
    pairs_a, pairs_b = [], []
    for _ in range(25):
        base = "".join(chr(c) for c in rng.integers(97, 107, rng.integers(5, 200)))
        tail = "".join(chr(c) for c in rng.integers(97, 107, rng.integers(0, 120)))
        pairs_a.append(base + tail)
        pairs_b.append(tail + base[: rng.integers(0, len(base) + 1)])
    pairs_a += ["", "abc"]
    pairs_b += ["xyz", ""]
    hash_scores = make_lcs_containment_udf(0.0)._plain_batch(pairs_a, pairs_b)
    sa_scores = np.zeros(len(pairs_a))
    for i, (a, b) in enumerate(zip(pairs_a, pairs_b)):
        ca = np.frombuffer(a.encode("utf-8"), dtype=np.uint8)
        cb = np.frombuffer(b.encode("utf-8"), dtype=np.uint8)
        if min(len(ca), len(cb)):
            sa_scores[i] = lcs_len_suffix_array(ca, cb) / min(len(ca), len(cb))
    assert np.allclose(hash_scores, sa_scores, atol=0)

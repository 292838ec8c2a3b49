"""Vectorized 64-bit hashing primitives (numpy, uint64 wraparound).

These are the analogs of the reference's rolling-hash + sketch math:

- `shingle_hashes`   : k-char shingle fingerprints — the analog of the Rabin
  polynomial rolling window (reference rabin/rabin_dedup.c:620-714, window
  size RAB_POLYNOMIAL_WIN_SIZE=16, rabin_dedup.h:90). We use a multiplicative
  polynomial hash over byte windows, fully vectorized with stride tricks —
  same role (content fingerprint of a fixed-width window), Spark-first shape
  (one numpy pass per Arrow batch instead of a per-byte C loop).
- `minhash_from_shingles` : K-min-values sketch (reference takes the K=20
  smallest distinct 64-bit block hashes per segment, rabin_dedup.c:976-994).
  We use K independent multiply-add permutations and take the min of each —
  the standard MinHash estimator with identical collision semantics.
- `simhash_from_shingles` : 64-bit SimHash bit-vote (reference's
  `similarity_hash` is XXH32 over the min-heap of block words,
  rabin_dedup.c:696-706 + utils/heap.c:42-75; SimHash is the
  locality-sensitive generalization used for document-level similarity).

All functions are deterministic in `seed` and shared verbatim by the Spark
UDFs and the golden oracle (pcompress_spark/oracle.py).
"""

from __future__ import annotations

import numpy as np

MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)
# odd 64-bit multiplier (splitmix64 / Murmur-family constant) — public domain
_MULT = np.uint64(0xFF51AFD7ED558CCD)
_MIX1 = np.uint64(0xC4CEB9FE1A85EC53)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — public-domain (Steele et al.), good avalanche."""
    x = x.astype(np.uint64, copy=True)
    x += np.uint64(0x9E3779B97F4A7C15)
    z = x
    z = (z ^ (z >> np.uint64(30))) * _MULT
    z = (z ^ (z >> np.uint64(27))) * _MIX1
    return z ^ (z >> np.uint64(31))


def shingle_hashes(text: str, width: int = 16) -> np.ndarray:
    """Distinct 64-bit hashes of every `width`-char (byte) shingle of `text`.

    Returns a sorted unique uint64 array. Empty array if the doc is shorter
    than one shingle — the analog of the reference's small-chunk skip
    (rabin_dedup.c:500-510).
    """
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    if b.size < width:
        return np.empty(0, dtype=np.uint64)
    h = _splitmix64(window_hashes_all(b, width))
    return np.unique(h)


CJK_LANGS = frozenset({"zh", "ja", "ko"})


def shingle_hashes_chars(text: str, width_chars: int) -> np.ndarray:
    """Distinct hashes of every `width_chars`-CODEPOINT shingle of `text`.

    The CJK variant of `shingle_hashes` (P6 adaptive config, analog of
    adaptive_compress.c:325-430 per-content algorithm selection): a
    16-BYTE window spans ~5 Han characters in UTF-8, so byte-domain
    shingles over-fragment CJK text relative to latin scripts. Rolling the
    same polynomial over the codepoint array keeps the shingle span
    proportional to linguistic units. Same O(n) prefix-sum roll — the
    window hash works over any integer alphabet.
    """
    cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    if cps.size < width_chars:
        return np.empty(0, dtype=np.uint64)
    h = _splitmix64(window_hashes_all(cps, width_chars))
    return np.unique(h)


def shingles_for(
    text: str, lang: str, byte_width: int, cjk_chars: int
) -> np.ndarray:
    """Per-lang shingle dispatch: CJK langs shingle in codepoints, all
    others in bytes. Shared verbatim by the Spark sig/verify UDFs and the
    golden oracle, so the dispatch can never drift between them."""
    if lang in CJK_LANGS:
        return shingle_hashes_chars(text, cjk_chars)
    return shingle_hashes(text, byte_width)


# modular inverse of the (odd) multiplier mod 2^64 — lets the polynomial
# window hash roll in O(n) total instead of O(n*width)
_MULT_INV = np.uint64(pow(int(_MULT), -1, 1 << 64))


def window_hashes_all(data: bytes | np.ndarray, width: int) -> np.ndarray:
    """Per-offset (NOT uniqued) polynomial window hashes of a byte string.

    H(i) = sum_{t<width} b[i+t] * M^(width-1-t)  (mod 2^64), computed for
    every offset in O(n) via prefix sums in the "divided by M^j" domain:
    H(i) = M^(width-1+i) * (C[i+width] - C[i]) with C = cumsum(b[j]*Minv^j).
    All uint64 wraparound arithmetic — exact, and identical to the naive
    per-window evaluation.

    Used by the substring channel (winnowing anchors) and the exact
    common-substring check. Content-defined: identical spans produce
    identical hash runs regardless of their offset in the doc — the same
    property the reference gets from its Rabin rolling window
    (rabin/rabin_dedup.c:620-666).
    """
    b = np.frombuffer(data, dtype=np.uint8) if isinstance(data, bytes) else data
    n = b.size
    if n < width:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        minv_pows = np.ones(n, dtype=np.uint64)
        minv_pows[1:] = _MULT_INV
        np.cumprod(minv_pows, out=minv_pows)          # Minv^j
        c = b.astype(np.uint64) * minv_pows
        np.cumsum(c, out=c)                           # C[j+1] (inclusive)
        diff = c[width - 1 :].copy()                  # C[i+width]-C[i]
        diff[1:] -= c[: n - width]
        m_pows = np.empty(n - width + 1, dtype=np.uint64)
        m_pows[0] = _pow_mult(width - 1)
        m_pows[1:] = _MULT
        np.cumprod(m_pows, out=m_pows)                # M^(width-1+i)
        return m_pows * diff


def _pow_mult(e: int) -> np.uint64:
    return np.uint64(pow(int(_MULT), e, 1 << 64))


def _poly_window_hash(windows: np.ndarray) -> np.ndarray:
    """Reference (naive) per-window hash of a (n, width) byte matrix —
    kept for tests asserting the rolling form is identical."""
    width = windows.shape[1]
    powers = np.array(
        [pow(int(_MULT), width - 1 - i, 1 << 64) for i in range(width)],
        dtype=np.uint64,
    )
    with np.errstate(over="ignore"):
        return windows.astype(np.uint64) @ powers


def _sliding_min(h: np.ndarray, s: int) -> np.ndarray:
    """Min over every window of `s` consecutive values — vectorized
    sparse-table (O(n log s)), exact."""
    n = h.size
    if n <= s:
        return h.min(keepdims=True)
    # largest power of two <= s
    j = 1
    st = h
    while j * 2 <= s:
        st = np.minimum(st[: st.size - j], st[j:])
        j *= 2
    # windows of size s = min of two overlapping size-j ranges
    return np.minimum(st[: n - s + 1], st[s - j : s - j + n - s + 1])


def winnow_anchors(text: str, width: int, stride: int) -> np.ndarray:
    """Winnowing fingerprints (Schleimer et al., SIGMOD 2003 — public
    algorithm). For every position, select the min window-hash within the
    next `stride` offsets; return the distinct selected values.

    Content-defined: a window of `stride` consecutive hashes fully inside a
    shared verbatim span yields the same min in both documents, regardless
    of the span's offset. Guarantee: two docs sharing a span of
    >= width+stride-1 chars share at least one anchor. This is the analog
    of the reference's content-defined Rabin block boundaries
    (rabin/rabin_dedup.c:664-666 cut rule) — sampling positions from
    content, not offsets.
    """
    h = window_hashes_all(text.encode("utf-8"), width)
    if h.size == 0:
        return h
    return np.unique(_sliding_min(h, stride))


def minhash_params(k: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """K deterministic (a, b) multiply-add permutation params (a odd)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, 1 << 63, size=k, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 1 << 63, size=k, dtype=np.uint64)
    return a, b


def minhash_from_shingles(
    shingles: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """K-value MinHash signature of a shingle set. uint64[k].

    Empty shingle set → all-max sentinel (never collides with real docs).
    """
    k = a.size
    if shingles.size == 0:
        return np.full(k, MASK64, dtype=np.uint64)
    # (k, m) = a[:,None]*sh[None,:] + b[:,None], min over m
    vals = a[:, None] * shingles[None, :].astype(np.uint64) + b[:, None]
    return vals.min(axis=1)


def simhash_from_shingles(shingles: np.ndarray) -> np.uint64:
    """64-bit SimHash: majority bit-vote over shingle hashes."""
    if shingles.size == 0:
        return np.uint64(0)
    bits = np.unpackbits(shingles.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    votes = bits.sum(axis=0)  # (64,)
    sim_bits = (votes * 2 >= shingles.size).astype(np.uint8)
    return np.uint64(np.packbits(sim_bits, bitorder="little").view(np.uint64)[0])


def hamming64(a: int, b: int) -> int:
    return bin((int(a) ^ int(b)) & 0xFFFFFFFFFFFFFFFF).count("1")


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    """Exact Jaccard of two sorted-unique uint64 shingle arrays."""
    if a.size == 0 and b.size == 0:
        return 0.0
    inter = np.intersect1d(a, b, assume_unique=True).size
    union = a.size + b.size - inter
    return float(inter) / float(union) if union else 0.0


def to_signed(arr: np.ndarray) -> np.ndarray:
    """uint64 → int64 bit-cast (Spark LongType carries the same 64 bits)."""
    return arr.view(np.int64) if arr.dtype == np.uint64 else arr.astype(np.int64)

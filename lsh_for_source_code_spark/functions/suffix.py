"""Exact suffix-array LCS (prefix-doubling SA + Kasai LCP).

The north-star pipeline calls for "suffix-array-based longest-common-
substring checks for containment dups". The production LCS channel
(operators/verify.py) uses double-rolling-hash bisection -- Monte-Carlo
with ~2^-62 collision odds and vectorized probes that win at KB-scale
docs (BENCH_NOTES #15). This module is the DETERMINISTIC counterpart: a
true suffix array over the concatenated pair, built by numpy prefix
doubling (O(n log n), fully vectorized -- one lexsort + one cumsum per
doubling round), with Kasai's O(n) LCP and a cross-string adjacent-pair
max. Zero collision probability, so it serves as (a) the exactness
oracle the hash channel is tested against and (b) the scorer of the
lcs_containment_pairs query (entry_queries.q_lcs_containment_pairs), which
needs certified-exact containment scores.
"""

from __future__ import annotations

import numpy as np


def suffix_array(s: np.ndarray) -> np.ndarray:
    """Suffix array of an integer sequence by prefix doubling.

    Each round sorts suffixes by their (rank, rank-k-ahead) pair with one
    numpy lexsort and re-ranks with one cumsum over neighbor-diffs --
    O(n log^2 n) comparisons total, no per-suffix Python. Suffixes of a
    single sequence are pairwise distinct (different lengths), so ranks
    always separate and the loop terminates."""
    n = len(s)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    rank = np.unique(np.asarray(s), return_inverse=True)[1].astype(np.int64)
    k = 1
    while True:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        r1, r2 = rank[order], key2[order]
        diff = np.empty(n, dtype=np.int64)
        diff[0] = 0
        diff[1:] = (r1[1:] != r1[:-1]) | (r2[1:] != r2[:-1])
        ranks_sorted = np.cumsum(diff)
        if ranks_sorted[-1] == n - 1:
            return order
        rank = np.empty(n, dtype=np.int64)
        rank[order] = ranks_sorted
        k *= 2


def lcp_kasai(s: np.ndarray, sa: np.ndarray) -> np.ndarray:
    """Kasai LCP: lcp[i] = longest common prefix of suffixes sa[i-1], sa[i].

    The h-counter decreases at most n times total, so the character loop is
    O(n) amortized -- a Python loop, but linear, and this path is the
    certified-exact option, not the vectorized default."""
    n = len(s)
    lcp = np.zeros(n, dtype=np.int64)
    if n == 0:
        return lcp
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.arange(n)
    h = 0
    sl = s.tolist()  # list indexing is ~3x faster than ndarray scalar reads
    for i in range(n):
        r = rank[i]
        if r > 0:
            j = int(sa[r - 1])
            while i + h < n and j + h < n and sl[i + h] == sl[j + h]:
                h += 1
            lcp[r] = h
            if h:
                h -= 1
        else:
            h = 0
    return lcp


def lcs_len_suffix_array(a: np.ndarray, b: np.ndarray) -> int:
    """Exact longest-common-substring length of two non-negative integer
    sequences (bytes or full Unicode code points): SA + LCP over the
    separator-joined concatenation, maximized over adjacent suffix pairs
    owned by different sides. Separators (-1, -2) sit below any code
    point and each occurs exactly once, so no common prefix between two
    DISTINCT suffixes can cross them."""
    na, nb = len(a), len(b)
    if na == 0 or nb == 0:
        return 0
    s = np.concatenate(
        [
            np.asarray(a, dtype=np.int64),
            np.asarray([-1], dtype=np.int64),
            np.asarray(b, dtype=np.int64),
            np.asarray([-2], dtype=np.int64),
        ]
    )
    sa = suffix_array(s)
    lcp = lcp_kasai(s, sa)
    owner = np.zeros(len(s), dtype=np.int8)
    owner[na] = -1
    owner[na + 1 :] = 1
    owner[-1] = -1
    own_sorted = owner[sa]
    cross = (own_sorted[1:] != own_sorted[:-1]) & (own_sorted[1:] >= 0) & (
        own_sorted[:-1] >= 0
    )
    if not cross.any():
        return 0
    return int(lcp[1:][cross].max())

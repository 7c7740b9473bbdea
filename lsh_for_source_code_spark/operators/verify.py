"""Verification stage S6: exact similarity on candidate pairs.

Reference counterparts: exact Jaccard (MinHash.java:43-57, O15), the
signature-agreement estimate (MinHash.java:237-251, O17) and the
reverse-engineered multiset-overlap pairing rule of the out-of-repo verifier
(SURVEY.md 2.4): sim(A,B) = |A intersect B|_multiset / max(|A|,|B|).

Plan shape: candidates join shingle arrays (SHUFFLE_HASH with AQE
skew-split, or both sides broadcast when the feature table is small) ->
sound pre-score filters (size-ratio bound, PPJoin prefix check) -> exact
scoring, one scorer per channel: jaccard via JVM `array_intersect`
(whole-stage codegen) when only jaccard is asked for, else jaccard AND
multiset overlap from ONE pandas UDF probe per pair (pair_scores_udf) ->
optional suffix-style LCS containment channel for containment dups the
overlap rule misses by construction.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import DoubleType, StructField, StructType

from lsh_for_source_code_spark.config import PipelineConfig


def _sorted_probe(a, b, ca=None, cb=None) -> tuple[int, int]:
    """(distinct_intersection, multiset_min_intersection) of two SORTED
    distinct int64 arrays via one binary-search probe of the smaller side
    into the larger -- O(min log max) per pair, no hash builds, no sorts.

    Chosen over the previous whole-batch lexsort by measurement: per-pair
    searchsorted resolves 10k avg-232-token pairs in ~0.15s where the
    concatenated (pair, shingle) lexsort took tens of seconds -- sorting
    millions of RANDOM 64-bit keys is memory-bound, while each probe here
    stays cache-resident (VERDICT r3 next#1).

    The arrays arrive as int64 BIT-PATTERNS of uint64 hashes and were
    sorted in UNSIGNED order by the shingle lexsort (tokenize.py), so the
    probe must view them back as uint64 -- int64-order searchsorted would
    silently miss every match across the sign boundary."""
    a = np.asarray(a, dtype=np.int64).view(np.uint64)
    b = np.asarray(b, dtype=np.int64).view(np.uint64)
    if len(a) == 0 or len(b) == 0:
        return 0, 0
    if len(a) > len(b):
        a, b, ca, cb = b, a, cb, ca
    idx = np.searchsorted(b, a)
    valid = idx < len(b)
    hits = np.zeros(len(a), dtype=bool)
    hits[valid] = b[idx[valid]] == a[valid]
    inter_d = int(np.count_nonzero(hits))
    if ca is None or cb is None or inter_d == 0:
        return inter_d, inter_d
    inter_m = int(
        np.minimum(
            np.asarray(ca)[hits], np.asarray(cb)[idx[hits]]
        ).sum()
    )
    return inter_d, inter_m


#: explicit StructType (a DDL string would be parsed at import time, which
#: requires an active SparkContext the test collector doesn't have yet)
_PAIR_SCORES_T = StructType(
    [
        StructField("jaccard", DoubleType(), False),
        StructField("overlap", DoubleType(), False),
    ]
)


@pandas_udf(_PAIR_SCORES_T)
def pair_scores_udf(
    sh_a: pd.Series, cn_a: pd.Series, sh_b: pd.Series, cn_b: pd.Series,
    nt_a: pd.Series, nt_b: pd.Series,
) -> pd.DataFrame:
    """Jaccard AND multiset overlap from ONE probe pass per pair: the
    binary-search positions yield both the distinct intersection (jaccard
    numerator) and the min-count sum (overlap numerator), so the combined
    verify channel pays one Arrow transfer and one probe where r3 paid a
    JVM hash-set build plus a separate overlap UDF."""
    n = len(sh_a)
    jac = np.zeros(n, dtype=np.float64)
    inter_m = np.zeros(n, dtype=np.float64)
    va, vb = sh_a.to_numpy(), sh_b.to_numpy()
    wa, wb = cn_a.to_numpy(), cn_b.to_numpy()
    for i in range(n):
        a, b = va[i], vb[i]
        if a is None or b is None:
            continue
        d, m = _sorted_probe(a, b, wa[i], wb[i])
        union = len(a) + len(b) - d
        if union > 0:
            jac[i] = d / union
        inter_m[i] = m
    denom = np.maximum(nt_a.to_numpy(np.float64), nt_b.to_numpy(np.float64))
    return pd.DataFrame(
        {
            "jaccard": jac,
            "overlap": np.where(denom > 0, inter_m / np.maximum(denom, 1.0), 0.0),
        }
    )


#: max concatenated window keys per LCS-gate lexsort slice (ADVICE r3:
#: unbounded batch concatenation could reach multi-GB peaks). 2^23 keys ~=
#: 64 MB of int64 per array; the gate holds ~3 such arrays plus the sort's
#: scratch, so the slice peak stays well under 1 GB.
_GATE_KEY_BUDGET = 1 << 23

_LCS_P1, _LCS_B1 = (1 << 31) - 1, 131  # Mersenne prime 2^31-1
_LCS_P2, _LCS_B2 = (1 << 31) - 19, 137


class _RollingHasher:
    """Vectorized double rolling hash over one byte string.

    Uses T[i] = sum_{j<i} c[j] * B^{-j} mod p, computed as a plain int64
    cumsum (values < 2^31, so up to 2^32 terms cannot overflow) followed by
    one mod -- no Python-int loop over characters. A window hash is then
    H(s, L) = (T[s+L] - T[s]) * B^{s+L-1} mod p, all numpy elementwise.
    Two independent (p, B) pairs are combined into one 62-bit key so a
    collision requires agreeing in both fields."""

    # process-global power tables, grown geometrically and shared across all
    # strings in all batches (NOTES r2 item 3: the per-string scalar loop
    # over python ints was the dominant non-numpy cost of this channel)
    _POW_CACHE: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}

    def __init__(self, codes: np.ndarray):
        self.n = len(codes)
        c = codes.astype(np.int64)
        self._t1, self._inv_pow1, self._pow1 = self._tables(c, _LCS_P1, _LCS_B1)
        self._t2, self._inv_pow2, self._pow2 = self._tables(c, _LCS_P2, _LCS_B2)

    @classmethod
    def _powers(cls, p: int, b: int, n: int):
        pows, inv_pows = cls._POW_CACHE.get((p, b), (None, None))
        if pows is None or len(pows) <= n:
            size = max(n + 1, 1 << 12)
            if pows is not None:
                size = max(size, 2 * len(pows))  # geometric growth
            binv = pow(b, p - 2, p)  # Fermat inverse
            new_p = np.empty(size, dtype=np.int64)
            new_i = np.empty(size, dtype=np.int64)
            new_p[0] = new_i[0] = 1
            pv = iv = 1
            for i in range(1, size):
                pv = (pv * b) % p
                iv = (iv * binv) % p
                new_p[i] = pv
                new_i[i] = iv
            pows, inv_pows = new_p, new_i
            cls._POW_CACHE[(p, b)] = (pows, inv_pows)
        return pows, inv_pows

    @classmethod
    def _tables(cls, c: np.ndarray, p: int, b: int):
        n = len(c)
        pows, inv_pows = cls._powers(p, b, n)
        t = np.zeros(n + 1, dtype=np.int64)
        if n:
            contrib = (c % p) * inv_pows[:n] % p  # products < 2^62: exact
            np.cumsum(contrib, out=t[1:])  # sums < 2^31 * n: exact for n < 2^32
            t %= p
        return t, inv_pows, pows

    def window_keys(self, L: int) -> np.ndarray:
        """62-bit combined hash of every length-L window, vectorized."""
        s = np.arange(self.n - L + 1)

        def h(t, pows, p):
            diff = (t[s + L] - t[s]) % p
            return diff * pows[s + L - 1] % p

        k1 = h(self._t1, self._pow1, _LCS_P1)
        k2 = h(self._t2, self._pow2, _LCS_P2)
        return (k1 << np.int64(31)) | k2


def _lcs_len_from(ha: "_RollingHasher", hb: "_RollingHasher", lo: int, hi: int) -> int:
    """Binary search on the LCS length starting from a known lower bound;
    each probe intersects the two windows' double-hash key sets."""
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if len(np.intersect1d(ha.window_keys(mid), hb.window_keys(mid))) > 0:
            lo = mid
        else:
            hi = mid - 1
    return lo


def _lcs_len(ca: np.ndarray, cb: np.ndarray) -> int:
    """Binary search on the LCS length. O(n log n) with numpy probes."""
    if len(ca) == 0 or len(cb) == 0:
        return 0
    return _lcs_len_from(_RollingHasher(ca), _RollingHasher(cb), 0, min(len(ca), len(cb)))


def _shared_window_hits(entries) -> set[int]:
    """entries: (pair_id, ha, hb, L) -- which pairs share at least one
    length-L window double-hash key between their two sides?

    ONE concatenated (pair, key, side) lexsort resolves every entry
    (processed in key-budget slices: an unsliced batch replicates a hub
    doc's key array once PER PAIR it appears in, so peak memory was
    O(batch total keys) -- multi-GB with large docs -- vs ~200 MB per
    slice now, ADVICE r3). window_keys(L) is memoized per (hasher, L)
    within the call, so a hub doc's keys are built once per round, not
    once per pair."""
    out: set[int] = set()
    memo: dict[tuple[int, int], np.ndarray] = {}

    def keys_of(h: "_RollingHasher", L: int) -> np.ndarray:
        k = memo.get((id(h), L))
        if k is None:
            k = memo[(id(h), L)] = h.window_keys(L)
        return k

    def run_slice(batch):
        keys, tags, sides = [], [], []
        for i, ha, hb, L in batch:
            for h, side in ((ha, 0), (hb, 1)):
                k = keys_of(h, L)
                keys.append(k)
                tags.append(np.full(len(k), i, dtype=np.int64))
                sides.append(np.full(len(k), side, dtype=np.int8))
        K = np.concatenate(keys)
        T = np.concatenate(tags)
        S = np.concatenate(sides)
        order = np.lexsort((S, K, T))
        K, T, S = K[order], T[order], S[order]
        hit = (T[1:] == T[:-1]) & (K[1:] == K[:-1]) & (S[1:] != S[:-1])
        out.update(np.unique(T[1:][hit]).tolist())

    batch, batch_keys = [], 0
    for entry in entries:
        _i, ha, hb, L = entry
        n_keys = (ha.n - L + 1) + (hb.n - L + 1)
        if batch and batch_keys + n_keys > _GATE_KEY_BUDGET:
            run_slice(batch)
            batch, batch_keys = [], 0
        batch.append(entry)
        batch_keys += n_keys
    if batch:
        run_slice(batch)
    return out


#: per-pair byte size (len_a + len_b) below which the exact LCS bisection
#: runs BATCHED (one _shared_window_hits lexsort per round across pairs)
#: instead of per-pair probes. MEASURED crossover (r4, same-process A/B on
#: block-shared corpora): at ~40-char docs batching wins 2.9x (per-probe
#: Python overhead dominates); at >=150 chars per-pair probes win 2-5x
#: (the probes are already numpy-vectorized per doc, and the batched
#: rounds pay a 3-key lexsort over the concatenation that grows with doc
#: size). Source files are KB-scale, so production pairs take the
#: per-pair path; the batched path covers short-string corpora.
_LCS_BATCH_SEARCH_MAX_BYTES = 160


def _batched_lcs_search(entries: list) -> dict[int, int]:
    """entries: (pair_id, ha, hb, lo, hi) with the invariant 'a common
    substring of length lo exists (or lo == 0); none of length > hi'.
    Returns pair_id -> exact LCS length.

    Small pairs (combined size under _LCS_BATCH_SEARCH_MAX_BYTES) bisect
    together -- every still-active pair probes its own midpoint in one
    _shared_window_hits lexsort per ROUND (<= log2(max doc len) rounds) --
    large pairs bisect with per-pair numpy probes (_lcs_len_from); see the
    measured crossover above (NOTES round-5 backlog #3: 'vectorize the
    exact search' was measured and holds only below the crossover).
    Identical results by construction: each pair performs exactly the
    bisection _lcs_len_from performs."""
    result: dict[int, int] = {}
    active = []
    for i, ha, hb, lo, hi in entries:
        if lo >= hi:
            result[i] = lo
        elif ha.n + hb.n > _LCS_BATCH_SEARCH_MAX_BYTES:
            result[i] = _lcs_len_from(ha, hb, lo, hi)
        else:
            active.append((i, ha, hb, lo, hi))
    while active:
        probes = [
            (i, ha, hb, (lo + hi + 1) // 2) for i, ha, hb, lo, hi in active
        ]
        hits = _shared_window_hits(probes)
        nxt = []
        for i, ha, hb, lo, hi in active:
            mid = (lo + hi + 1) // 2
            if i in hits:
                lo = mid
            else:
                hi = mid - 1
            if lo < hi:
                nxt.append((i, ha, hb, lo, hi))
            else:
                result[i] = lo
        active = nxt
    return result


def make_lcs_containment_udf(min_containment: float | None = None):
    """Longest-common-substring containment: lcs_len / min(len_a, len_b).

    Suffix-structure channel for containment dups (north_star; no reference
    counterpart -- the overlap>=theta rule punishes size mismatch,
    SURVEY.md 2.4). Binary search on the LCS length with vectorized double
    rolling hashes (see _RollingHasher); runs only on the small pair set
    that survives candidate generation but fails the jaccard bar.

    `min_containment` (the caller's filter threshold) enables a BATCHED
    gate probe (NOTES r2 item 3 / VERDICT r2 next#7): every pair's
    length-L0 window hashes (L0 = ceil(min_containment * min_len)) are
    concatenated, tagged (pair, side), and resolved with ONE lexsort over
    the whole Arrow batch -- a shared (pair, key) run containing both
    sides means the gate passes. Hashers are built once per DISTINCT
    content in the batch (a doc appears in many pairs). Failing pairs
    return 0.0 -- callers filter on >= min_containment, so the contract
    is unchanged for them. With min_containment=None the exact value is
    always computed (r1 behaviour; the DP-oracle tests use this).

    The EXACT search is batched too (r4, NOTES round-5 backlog #3): all
    still-active pairs bisect their own length ranges together, one
    _shared_window_hits lexsort per bisection round (<= log2(max doc len)
    rounds per Arrow batch) instead of a per-pair Python loop of
    np.intersect1d probes; hub docs' window keys are memoized per round.
    Result is bisection-identical to the per-pair search.

    The DETERMINISTIC counterpart is functions/suffix.lcs_len_suffix_array
    (prefix-doubling suffix array + Kasai LCP, zero hash-collision
    probability): measured ~2.5x slower than this hash bisection at 8KB
    docs (collision odds ~2^-62 per probe), it serves as the exactness
    oracle in tests and as the lcs_containment_pairs query's scorer."""

    def _batch(content_a, content_b) -> np.ndarray:
        out = np.zeros(len(content_a), dtype=np.float64)
        hashers: dict[str, "_RollingHasher"] = {}

        def hasher(s: str) -> "_RollingHasher":
            h = hashers.get(s)
            if h is None:
                h = hashers[s] = _RollingHasher(
                    np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
                )
            return h

        work: list[tuple[int, "_RollingHasher", "_RollingHasher", int, int]] = []
        for i, (a, b) in enumerate(zip(content_a, content_b)):
            if not a or not b:
                continue
            ha, hb = hasher(a), hasher(b)
            m = min(ha.n, hb.n)
            if m == 0:
                continue
            L0 = 0 if min_containment is None else min(
                m, max(1, int(np.ceil(min_containment * m)))
            )
            work.append((i, ha, hb, m, L0))
        if not work:
            return out
        if min_containment is None:
            entries = [(i, ha, hb, 0, m) for i, ha, hb, m, _L0 in work]
        else:
            # gate first: only pairs sharing a length-L0 window key can
            # reach containment >= min_containment; failures stay 0.0
            # (callers filter on >= min_containment, contract unchanged)
            passed = _shared_window_hits(
                [(i, ha, hb, L0) for i, ha, hb, _m, L0 in work]
            )
            entries = [
                (i, ha, hb, L0, m) for i, ha, hb, m, L0 in work if i in passed
            ]
        denom = {i: m for i, _ha, _hb, m, _L0 in work}
        for i, lcs in _batched_lcs_search(entries).items():
            out[i] = lcs / denom[i]
        return out

    @pandas_udf(DoubleType())
    def lcs_containment(content_a: pd.Series, content_b: pd.Series) -> pd.Series:
        return pd.Series(_batch(content_a, content_b))

    lcs_containment._plain_batch = _batch  # test/bench hook, no Spark needed
    return lcs_containment


#: exact variant (backwards-compatible name used by tests)
lcs_containment_udf = make_lcs_containment_udf(None)


def feature_table_fits_broadcast(
    shingled: DataFrame, cfg: PipelineConfig, with_counts: bool = True
) -> bool:
    """Size-adaptive broadcast decision for the verify feature join (r6,
    guide-§8 'broadcast the plan'): True iff the feature table is small
    enough to ship to every executor instead of re-shuffling the wide
    pair+array intermediate.

    Two-step probe so the decision itself stays O(metadata) at scale:
    (1) count(*) -- parquet-count pushdown on checkpointed stages, cached
    count on persisted ones; over the row bound the answer is 'no' with no
    further work. (2) only under the row bound (a small table by
    definition), one aggregate over array sizes estimates the broadcast
    payload. Both knobs ship in PipelineConfig; <= 0 disables."""
    max_rows = int(cfg.verify_broadcast_max_rows)
    if max_rows <= 0:
        return False
    n = shingled.count()
    if n > max_rows:
        return False
    row = shingled.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.size("shingles")), F.lit(0)).alias("tot"),
    ).first()
    # UnsafeRow-ish estimate: ~32 B/row fixed + 8 B per shingle (+4 B count
    # + 8 B n_tokens per row when the overlap channel ships counts).
    est = row.n * 32 + row.tot * 8
    if with_counts:
        est += row.tot * 4 + row.n * 8
    return est <= int(cfg.verify_broadcast_max_bytes)


def join_pair_features(
    candidates: DataFrame,
    shingled: DataFrame,
    with_counts: bool = True,
    broadcast_b: bool = False,
) -> DataFrame:
    """Attach both sides' shingle arrays to candidate pairs. Column-pruned:
    only (id, shingles[, counts, n_tokens, max_count]) moves, never content.
    `with_counts=False` (jaccard-only verification) halves the join payload.

    Join strategy: SHUFFLE_HASH pinned on the a-side feature join.
    Sort-merge would sort the wide shingle-array rows (memory-bandwidth-
    bound; measured r1), and an unconditional broadcast would collect the
    whole feature table to the driver -- a serial floor that killed N->4N
    scaling in r1. Per-partition hash builds of the feature side are
    parallel, and AQE still skew-splits the pair-side partitions.

    `broadcast_b=True` (r6, size-gated by feature_table_fits_broadcast):
    BOTH feature joins broadcast. The expensive exchange in this stage is
    not the feature table (O(corpus) array bytes) but the JOIN 1 OUTPUT --
    every pair row already carrying sh_a -- which a second SHUFFLE_HASH
    join would re-shuffle by id_b (~|pairs| x avg-array bytes, 17.4M x
    ~1.9 KB ~= 32 GB at the 200k bench). Broadcasting the b-side makes
    join 2 a map-side lookup, so the wide intermediate never crosses an
    exchange (measured at 200k/local[32], OPTIMIZATION_r06.md "S6 verify:
    size-gated b-side broadcast", identical 499,797-pair output by
    checksum: warm ~25s -> ~22s, cold 87s -> 20s; pipeline S6 stage 37.3s
    -> ~22s). The a-side then broadcasts TOO (OPTIMIZATION_r06.md "S6
    verify: a-side broadcast reuse"): the two broadcast subtrees are
    canonically identical, so AQE's stage cache builds the relation once
    and the candidates stream never shuffles at all -- verify wall
    17.2-24.9s -> 14.4-20.0s, winning 6/7 interleaved reps, output
    identical by count + xxhash64 checksum."""
    cols = [F.col("file_id").alias("fid"), F.col("shingles")]
    if with_counts:
        cols += [F.col("counts"), F.col("n_tokens")]
    feat = shingled.select(*cols)

    def side(suffix: str, id_name: str):
        sel = [F.col("fid").alias(id_name), F.col("shingles").alias(f"sh_{suffix}")]
        if with_counts:
            sel += [
                F.col("counts").alias(f"cn_{suffix}"),
                F.col("n_tokens").alias(f"nt_{suffix}"),
            ]
        return feat.select(*sel)

    if broadcast_b:
        return candidates.join(F.broadcast(side("a", "id_a")), "id_a").join(
            F.broadcast(side("b", "id_b")), "id_b"
        )
    return candidates.join(side("a", "id_a").hint("shuffle_hash"), "id_a").join(
        side("b", "id_b").hint("shuffle_hash"), "id_b"
    )


def sound_prefix_pred(theta: float, t: int):
    """SOUND necessary condition for jaccard(sh_a, sh_b) >= theta
    (cfg.verify_sound_prefix_t; PPJoin t-occurrence lemma, Xiao et al.
    WWW'08). Requires both arrays sorted by the same global total order --
    the shingle UDF's sorted-distinct output contract.

    jaccard >= theta  <=>  |A n B| >= alpha = theta/(1+theta)*(|A|+|B|),
    and if |A n B| >= alpha then the t-th smallest shared element has rank
    <= |A| - alpha + t in A (at least alpha - t shared elements are larger),
    likewise in B -- so the (|A|-alpha+t)- and (|B|-alpha+t)-prefixes share
    >= t elements. A pair failing this check therefore has jaccard < theta
    with certainty; the filter never changes the verified output (checksum
    A/B + tests/test_verify_prefix.py property test).

    All ops are native array expressions (slice + array_intersect): the
    measured per-pair budget is ~1us, which rules out interpreted HOF
    forms. alpha is ceil'd with 1e-9 slack so a pair sitting exactly AT
    theta is never lost to FP; t_eff = min(t, alpha) keeps the lemma's
    t <= alpha precondition (degenerate tiny arrays fall back to the exact
    |A n B| >= alpha check on the full arrays); prefix lengths are clamped
    at 0 (slice of length 0 = empty, correctly rejecting pairs where even
    |A| < alpha -- those cannot reach theta)."""
    na, nb = F.size("sh_a"), F.size("sh_b")
    alpha = F.ceil(
        F.lit(theta / (1.0 + theta)) * (na + nb).cast("double") - F.lit(1e-9)
    ).cast("int")
    t_eff = F.least(F.lit(int(t)), alpha)
    pa = F.greatest(na - alpha + t_eff, F.lit(0)).cast("int")
    pb = F.greatest(nb - alpha + t_eff, F.lit(0)).cast("int")
    shared = F.size(
        F.array_intersect(F.slice("sh_a", 1, pa), F.slice("sh_b", 1, pb))
    )
    return shared >= t_eff


#: sound_prefix_pred pays while the prefix ((1-theta)/(1+theta))*n + t is a
#: modest fraction of the array. Measured at the 200k bench corpus
#: (OPTIMIZATION_r06.md "S6 verify: SOUND positional prefix filter",
#: identical 499,797-pair output in every rep): theta=0.5, t=16 -- warm
#: 24.7-28.0s -> 15.2-22.5s (the rejected 72% of pairs skip the full
#: hash-set build AND all downstream row machinery, beating the naive
#: (p/n)-cost model); theta=0.9 (flagship query, t=16) --
#: 5.6s -> 4.2s. Below theta=0.5 the sound prefix exceeds half the array
#: and no declared query goes there, so the filter stays off.
SOUND_PREFIX_MIN_THETA = 0.5


def verify_pairs(
    candidates: DataFrame,
    shingled: DataFrame,
    cfg: PipelineConfig,
    keep_all: bool = False,
) -> DataFrame:
    """(id_a, id_b, jaccard, overlap [, n_shared_bands]) for pairs passing
    jaccard >= jaccard_threshold OR overlap >= overlap_threshold.

    The overlap channel is on exactly when cfg.overlap_threshold is set;
    otherwise `overlap` is null. The plan:

    1. join both sides' shingle arrays (join_pair_features: SHUFFLE_HASH,
       or both sides broadcast when feature_table_fits_broadcast);
    2. unless keep_all, SOUND filters that never change the output, all
       inside whole-stage codegen:
           jaccard  <= min(|A|, |B|) / max(|A|, |B|)      (distinct sizes)
           overlap  <= min(nt_A, nt_B) / max(nt_A, nt_B)  (multiset totals)
       and, on the jaccard-only channel, the PPJoin prefix check
       (sound_prefix_pred, cfg.verify_sound_prefix_t);
    3. exact scoring, one scorer per channel: jaccard-only uses the JVM
       `array_intersect` (the per-pair pandas probe lost ~2x end-to-end --
       Arrow transfer of the arrays costs more than the JVM hash build it
       saves); with overlap on, ONE pair_scores_udf probe yields jaccard
       AND overlap;
    4. the exact threshold filter (skipped under keep_all).
    """
    with_overlap = cfg.overlap_threshold is not None
    joined = join_pair_features(
        candidates,
        shingled,
        with_counts=with_overlap,
        broadcast_b=feature_table_fits_broadcast(
            shingled, cfg, with_counts=with_overlap
        ),
    )
    sz_a, sz_b = F.size("sh_a").cast("double"), F.size("sh_b").cast("double")
    jac_bound = F.least(sz_a, sz_b) / F.greatest(F.greatest(sz_a, sz_b), F.lit(1.0))
    # 1e-12 slack: the bound comparisons tolerate a final-division rounding
    # ulp so a pair sitting exactly AT the threshold can never be lost to
    # FP; the exact post-score filter still decides membership.
    eps = F.lit(1e-12)

    if with_overlap:
        if not keep_all:
            nt_bound = F.least("nt_a", "nt_b").cast("double") / F.greatest(
                F.greatest("nt_a", "nt_b").cast("double"), F.lit(1.0)
            )
            joined = joined.filter(
                (jac_bound >= F.lit(cfg.jaccard_threshold) - eps)
                | (nt_bound >= F.lit(cfg.overlap_threshold) - eps)
            )
        out = joined.withColumn(
            "_scores",
            pair_scores_udf("sh_a", "cn_a", "sh_b", "cn_b", "nt_a", "nt_b"),
        ).select(
            "*",
            F.col("_scores.jaccard").alias("jaccard"),
            F.col("_scores.overlap").alias("overlap"),
        )
        if not keep_all:
            out = out.filter(
                (F.col("jaccard") >= cfg.jaccard_threshold)
                | (F.col("overlap") >= cfg.overlap_threshold)
            )
    else:
        if not keep_all:
            joined = joined.filter(jac_bound >= F.lit(cfg.jaccard_threshold) - eps)
            t = cfg.verify_sound_prefix_t
            if t and t > 0 and cfg.jaccard_threshold >= SOUND_PREFIX_MIN_THETA:
                joined = joined.filter(
                    sound_prefix_pred(cfg.jaccard_threshold, int(t))
                )
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        union = sz_a + sz_b - inter
        out = joined.withColumn(
            "jaccard", F.when(union > 0, inter / union).otherwise(F.lit(0.0))
        ).withColumn("overlap", F.lit(None).cast("double"))
        if not keep_all:
            out = out.filter(F.col("jaccard") >= cfg.jaccard_threshold)

    cols = ["id_a", "id_b", "jaccard", "overlap"]
    if "n_shared_bands" in candidates.columns:
        cols.append("n_shared_bands")
    return out.select(*cols)


def add_lcs_containment(
    pairs: DataFrame, files: DataFrame, min_containment: float | None = None
) -> DataFrame:
    """Containment channel: join `files.content` back (only for the
    surviving pairs -- a tiny fraction of the corpus) and score LCS
    containment. Pass the downstream filter threshold as `min_containment`
    to enable the cheap gate probe (see make_lcs_containment_udf)."""
    udf = make_lcs_containment_udf(min_containment)
    c = files.select(F.col("file_id").alias("fid"), F.col("content").alias("c"))
    a = c.select(F.col("fid").alias("id_a"), F.col("c").alias("content_a"))
    b = c.select(F.col("fid").alias("id_b"), F.col("c").alias("content_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("lcs_containment", udf("content_a", "content_b"))
        .drop("content_a", "content_b")
    )

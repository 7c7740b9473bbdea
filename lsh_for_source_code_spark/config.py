"""Pipeline configuration.

Mirrors the reference's knobs (sparsity / stages / buckets, ReadMe.txt:21-51;
signature sizing LSHMinHash.java:92-96) re-expressed for the Spark build:
128 permutations by default (north_star), (bands, rows) chosen for
recall >= 0.99 at the target jaccard threshold, always-seeded coefficients
(the reference's unseeded java.util.Random -- MinHash.java:127-129 -- makes
its committed golden output irreproducible; we never do that).
"""

from __future__ import annotations

import json
import math
from dataclasses import asdict, dataclass

# Prime modulus for the affine MinHash family h(x) = (a*x + b) mod P.
# Mersenne prime 2^61 - 1: with 32-bit shingle values and a < 2^31 the
# product a*x + b stays inside uint64 (no overflow), so numpy uint64
# arithmetic is exact.
MERSENNE_61 = (1 << 61) - 1

# Same role as the reference's LARGE_PRIME = 433494437 (LSH.java:14), used
# only by the order-insensitive parity band hash (reference O10 semantics).
REFERENCE_BAND_PRIME = 433494437


def candidate_probability(s: float, bands: int, rows: int) -> float:
    """P(two docs with jaccard s share >= 1 LSH band) = 1 - (1 - s^r)^b.

    The S-curve the reference's signature-size comment cites
    (LSHMinHash.java:73-91, MMDS p.88).
    """
    return 1.0 - (1.0 - s**rows) ** bands


def signature_size_for_error(error: float) -> int:
    """Reference O18 (MinHash.java:96-101): size = 1/error^2. The reference's
    range check is dead code (`error < 0 && error > 1` is always false); we
    validate properly."""
    if not 0.0 < error <= 1.0:
        raise ValueError("error must be in (0, 1]")
    return int(1.0 / (error * error))


def expected_signature_error(size: int) -> float:
    """Reference O19 (MinHash.java:258-260): expected estimator error 1/sqrt(n)."""
    return 1.0 / math.sqrt(size)


def reference_signature_size(stages: int, threshold: float = 0.5) -> int:
    """Reference sizing rule: r = ceil(ln(1/stages)/ln(threshold)) + 1,
    size = r * stages (LSHMinHash.java:92-96, THRESHOLD=0.5 at :33).
    stages=10 -> r=5 -> size=50, matching the committed golden run.
    """
    rows = int(math.ceil(math.log(1.0 / stages) / math.log(threshold))) + 1
    return rows * stages


@dataclass(frozen=True)
class PipelineConfig:
    """All knobs for one dedup run. Hashable + JSON-serializable so it can be
    recorded in run metadata / lineage (reference exposes coefficients via
    getCoefficients(), MinHash.java:316-318; we persist the whole config)."""

    # --- shingling (reference stage A, out-of-repo: word tokens, k=1) ---
    shingle_k: int = 1            # k=1 word tokens == reference granularity
    min_token_freq: int = 0       # reference `sparsity` predicate (Main.java:99-104);
                                  # 0 disables (the booleanize filter freq > sparsity)

    # --- signatures ---
    num_perm: int = 128           # north_star: 128 permutations
    bands: int = 64               # b*r must == num_perm
    rows_per_band: int = 2        # b=64,r=2: P(cand|0.5) = 1 - (1-0.25)^64 ~ 1-1e-8
    seed: int = 0x5EED_CAFE

    # --- thresholds ---
    jaccard_threshold: float = 0.5
    overlap_threshold: float | None = None
    # multiset overlap >= theta is the reference's reverse-engineered pairing
    # rule (SURVEY.md 2.4); None disables the channel (the default pipeline's
    # recall contract is jaccard-based and verification then stays entirely
    # inside whole-stage codegen). Parity configs set it explicitly.
    containment_threshold: float = 0.8  # LCS-containment channel trigger

    # --- skew handling (SURVEY.md 4.3: 300/4632 files in one band group) ---
    max_bucket_pairs: int = 64    # buckets with <= this many members emit all pairs;
                                  # larger buckets fall back to chunked topology
    mega_chunk_target: int = 16
    # Mega buckets (> max_bucket_pairs members) are split into random chunks
    # of ~this size: exact all-pairs within each chunk + per-chunk min ->
    # bucket anchor edges. Work stays LINEAR in bucket size (sz * C/2 pairs
    # per band vs the pure star's sz), but each member gets C-1 exact
    # comparisons instead of 1 anchor edge, so for borderline-theta members
    # (anchor edge passes verify w.p. ~p) the per-member miss rate drops
    # from (1-p) to ~(1-p)^C. MEASURED at 20k (r3), ground-truth cluster
    # recall family-stratum / cross-boilerplate-stratum / wall:
    #   C=1 (pure star): 0.9747 / 0.8506 / 16.2s
    #   C=4:             0.9827 / 0.9845 / 17.8s
    #   C=16 (default):  0.9936 / 0.9978 / 23.7s  <- first >=0.99 everywhere
    #   C=32:            0.9980 / 0.9992 / 34.6s
    # Must be >= 2: C=1 (the pure star above) loses 15% of
    # cross-boilerplate recall.
    # Scale invariant: a mega-bucket member emits <= (C-1) comparisons per
    # band = (C-1)*bands total (960 at defaults) -- BELOW the small-bucket
    # worst case (max_bucket_pairs-1)*bands = 4032 the engine already
    # accepts. Total mega emission is min(C(sz,2), sz*C/2*bands): linear in
    # bucket size once sz >> C/2*bands (asserted by the operator-level bound
    # test at sz=5000). A band-LIMITED variant (chunking only 4-8 bands) was
    # measured and rejected: 20k recall fell to 0.94-0.96 because a member's
    # mega bands are spread uniformly over all 64 band ids.
    mega_refine_levels: int = 4
    # Similarity-preserving refinement of mega buckets BEFORE the chunked
    # fallback: each level extends the bucket key with one more MinHash perm
    # (the next signature row, mod num_perm), re-measures occupancy, and
    # emits exact all-pairs from sub-buckets that fell under the cap. A
    # truly-similar pair (jaccard s) stays together per level w.p. s, while
    # a JUNK bucket -- members agreeing only on a globally-common token's
    # min -- splits by a factor of the members' perm diversity (~100x).
    # Junk buckets are the scale killer this exists for: their size grows
    # LINEARLY with corpus size (a common token's band value is shared by
    # every file containing it and nothing hash-smaller), so pairs whose
    # shared tokens are all global lose every band to the cap. MEASURED at
    # 200k: type2 (consistent renames -- shared tokens are exclusively
    # keywords/numbers) cluster recall was 0.167 under the pure star and
    # 0.325 under chunking alone; one-pass refinement at L=4 with the
    # staged emission policy (<=C sub-buckets at every level, <=cap from
    # level 2 on) reaches type2 0.945 / family-stratum 0.9913 at 143s
    # pipeline wall (L=3: 0.927/0.9886 at 108s; emit-cap only at the last
    # level: 0.883/0.9816 at 100s). 0 disables.

    # --- SimHash channel ---
    simhash_bits: int = 64
    simhash_hamming_max: int = 3
    simhash_max_block: int = 1024
    # block-table keys with more members than this emit chunked pairs
    # plus chunk-min -> min-id anchor edges instead of all pairs --
    # the same mega-bucket defense as max_bucket_pairs on the MinHash path
    # (a boilerplate-heavy block value would otherwise go O(k^2)).
    simhash_table_blocks: int | None = None
    # EXTREME-SCALE table design (Manku et al., WWW'07; VERDICT r3 next#5):
    # split the fingerprint into `m` blocks (m > hamming_max) and key one
    # table on every (m - hamming_max)-block combination -- pigeonhole:
    # <= hamming_max differing bits touch <= hamming_max blocks, so at
    # least one combination agrees on every block. Key entropy becomes
    # (m - t) * (bits / m) instead of bits / (t + 1): at 10^12 docs the
    # default 4x16-bit decomposition puts ~15M UNRELATED docs in every
    # block bucket (recall rides the mega-chunk lottery); e.g. m=8 gives
    # 40-bit keys (C(8,3)=56 tables). Cost is the table count C(m, t) rows
    # per doc vs t+1.
    # None (default) = the t+1-block single-block-key design (equivalent
    # to table_blocks = hamming_max + 1). Requires m | simhash_bits and
    # (bits/m) | 64.

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"bands*rows ({self.bands}*{self.rows_per_band}) != num_perm ({self.num_perm})"
            )
        if self.mega_chunk_target < 2:
            raise ValueError(
                f"mega_chunk_target must be >= 2, got {self.mega_chunk_target}"
            )
        if not 1 <= self.simhash_bits <= 64:
            # the fingerprint is one 64-bit long (functions/hashing.simhash_concat)
            raise ValueError(
                f"simhash_bits must be in [1, 64], got {self.simhash_bits}"
            )
        if self.simhash_table_blocks is not None:
            m, t, bits = (
                self.simhash_table_blocks,
                self.simhash_hamming_max,
                self.simhash_bits,
            )
            if m <= t:
                raise ValueError(
                    f"simhash_table_blocks ({m}) must exceed hamming_max ({t})"
                )
            if bits % m != 0 or 64 % (bits // m) != 0:
                raise ValueError(
                    f"simhash_bits ({bits}) must split into {m} equal blocks "
                    "whose width divides 64"
                )

    @property
    def config_id(self) -> str:
        return (
            f"k{self.shingle_k}-p{self.num_perm}-b{self.bands}r{self.rows_per_band}"
            f"-s{self.seed:x}-t{self.jaccard_threshold}"
        )

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    def candidate_recall_at(self, s: float) -> float:
        return candidate_probability(s, self.bands, self.rows_per_band)

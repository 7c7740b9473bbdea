"""Sound positional prefix filter (verify.SOUND_PREFIX_T, r6).

The filter must be EXACT: it may only drop pairs whose jaccard is provably
below threshold, so the verified output equals the unfiltered exact scores
thresholded at theta.
Covers the PPJoin t-occurrence lemma predicate directly (random sets,
soundness at the threshold boundary) and the operator end-to-end.
"""
from __future__ import annotations

import dataclasses
import random

import pytest
from pyspark.sql import functions as F

from lsh_for_source_code_spark.config import PipelineConfig
from lsh_for_source_code_spark.operators.verify import (
    SOUND_PREFIX_MIN_THETA,
    sound_prefix_pred,
    verify_pairs,
)


def _random_pair_rows(seed: int, n_rows: int = 2000):
    """Sorted-distinct long arrays with controlled overlap, including pairs
    sitting exactly at and just below the jaccard threshold."""
    rng = random.Random(seed)
    rows = []
    universe = list(range(100_000))
    for _ in range(n_rows):
        n = rng.randint(1, 80)
        m = rng.randint(1, 80)
        shared = rng.randint(0, min(n, m))
        pool = rng.sample(universe, n + m - shared)
        inter = pool[:shared]
        a = sorted(inter + pool[shared : shared + (n - shared)])
        b = sorted(inter + pool[shared + (n - shared) :])
        rows.append((a, b))
    # exact-boundary pairs: |A|=|B|=k, shared chosen so jaccard == theta
    # exactly for theta=0.9 (i/(2k-i) = 0.9 -> i = 18k/19, k multiple of 19)
    for k in (19, 38, 190):
        i = 18 * k // 19
        pool = rng.sample(universe, 2 * k - i)
        inter = pool[:i]
        a = sorted(inter + pool[i : i + (k - i)])
        b = sorted(inter + pool[i + (k - i) :])
        rows.append((a, b))
    return rows


@pytest.mark.parametrize(
    "theta,t",
    [(0.5, 1), (0.5, 16), (0.7, 16), (0.9, 8), (0.9, 16), (0.9, 64)],
)
def test_prefix_pred_sound(spark, theta, t):
    """No pair with jaccard >= theta is ever rejected (the lemma's claim),
    across random overlaps AND exact-boundary pairs."""
    df = spark.createDataFrame(
        _random_pair_rows(seed=int(theta * 10) * 100 + t),
        "sh_a array<long>, sh_b array<long>",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    viol = (
        df.select(jac.alias("j"), sound_prefix_pred(theta, t).alias("p"))
        .filter((F.col("j") >= theta) & ~F.col("p"))
        .count()
    )
    assert viol == 0


def test_prefix_pred_rejects_disjoint(spark):
    """Sanity: clearly-dissimilar pairs are actually rejected (the filter
    does something), including the degenerate |A| < alpha case."""
    rows = [
        (list(range(0, 60)), list(range(1000, 1060))),      # disjoint
        (list(range(0, 10)), list(range(0, 60))),           # |A| << alpha
    ]
    df = spark.createDataFrame(rows, "sh_a array<long>, sh_b array<long>")
    kept = df.filter(sound_prefix_pred(0.9, 16)).count()
    assert kept == 0


@pytest.mark.parametrize("theta", [0.5, 0.9])
def test_verify_pairs_identical_with_filter(spark, small_corpus_shingled, theta):
    """End-to-end: verify_pairs output (sound prefix filter on) is
    byte-identical to the unfiltered exact scores (keep_all) thresholded at
    theta (both production thetas, jaccard-only channel)."""
    shingled, cands, base_cfg = small_corpus_shingled
    cfg = dataclasses.replace(
        base_cfg, jaccard_threshold=theta, overlap_threshold=None
    )
    assert cfg.jaccard_threshold >= SOUND_PREFIX_MIN_THETA

    def sig(out):
        row = out.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("id_a", "id_b")).alias("chk"),
            F.sum(F.round("jaccard", 9)).alias("js"),
        ).first()
        return (row.n, row.chk, row.js)

    s_filtered = sig(verify_pairs(cands, shingled, cfg))
    s_exact = sig(
        verify_pairs(cands, shingled, cfg, keep_all=True).filter(
            F.col("jaccard") >= theta
        )
    )
    assert s_filtered == s_exact
    assert s_filtered[0] > 0  # non-trivial corpus: some pairs actually verify


def test_filter_inactive_below_min_theta(spark, small_corpus_shingled):
    """At theta < SOUND_PREFIX_MIN_THETA the plan must not contain the
    prefix slice (the measured no-win regime stays untouched)."""
    shingled, cands, base_cfg = small_corpus_shingled
    cfg = dataclasses.replace(
        base_cfg, jaccard_threshold=0.5, overlap_threshold=None
    )
    marker = "array_intersect(slice("  # unique to the prefix filter
    cfg_lo = dataclasses.replace(cfg, jaccard_threshold=0.4)
    plan_lo = verify_pairs(cands, shingled, cfg_lo)._jdf.queryExecution()
    assert marker not in plan_lo.optimizedPlan().toString()

    for theta in (0.5, 0.9):  # both measured-win regimes
        cfg_hi = dataclasses.replace(cfg, jaccard_threshold=theta)
        plan_hi = verify_pairs(cands, shingled, cfg_hi)._jdf.queryExecution()
        assert marker in plan_hi.optimizedPlan().toString()


@pytest.fixture(scope="module")
def small_corpus_shingled(spark):
    """Shingled features + candidate pairs for a small dense corpus (the
    same generator the bench uses, 600 files)."""
    from lsh_for_source_code_spark.corpus import generate_corpus
    from lsh_for_source_code_spark.functions.minhash import sign_files
    from lsh_for_source_code_spark.plans.pipeline import (
        lsh_stages,
        shingle_stage,
        with_file_id,
    )

    cfg = PipelineConfig(max_bucket_pairs=1_000_000)
    files = spark.createDataFrame(generate_corpus(600, 23).files).repartition(4)
    ids = with_file_id(files, check_collisions=False)
    shingled = shingle_stage(ids, cfg).persist()
    signed = sign_files(shingled, cfg).persist()
    _, cands, _ = lsh_stages(signed, shingled, cfg)
    cands = cands.persist()
    cands.count()
    yield shingled, cands, cfg
    shingled.unpersist()
    signed.unpersist()
    cands.unpersist()

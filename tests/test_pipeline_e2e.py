"""End-to-end pipeline tests against brute-force ground truth
(SURVEY.md 5.2 items 2-3, 5-6; north_rule: dup-pair recall >= 0.99).

Ground truth is computed in pure Python with the same tokenizer contract:
all pairs with jaccard(word-token sets) >= theta. The pipeline must recover
(via cluster co-membership) at least 99% of them.
"""

from __future__ import annotations

import hashlib
import re
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from lsh_for_source_code_spark.config import PipelineConfig
from lsh_for_source_code_spark.corpus import corpus_df, generate_corpus
from lsh_for_source_code_spark.functions.tokenize import TOKEN_RE
from lsh_for_source_code_spark.operators.components import clusters_to_pairs
from lsh_for_source_code_spark.plans.pipeline import run_pipeline, with_file_id

N_FILES = 300
SEED = 20260816
CFG = PipelineConfig()  # b=64, r=2, theta=0.5


def brute_force_pairs(contents: list[str], theta: float) -> set[tuple[int, int]]:
    sets = [frozenset(re.findall(TOKEN_RE, c)) for c in contents]
    out = set()
    for i, j in combinations(range(len(sets)), 2):
        a, b = sets[i], sets[j]
        if not a and not b:
            continue
        inter = len(a & b)
        if inter and inter / (len(a) + len(b) - inter) >= theta:
            out.add((i, j))
    return out


@pytest.fixture(scope="module")
def pipeline_result(spark):
    df, truth = corpus_df(spark, n_files=N_FILES, seed=SEED)
    out = run_pipeline(spark, df, CFG)
    ids = with_file_id(df).select("file_id", "path").toPandas()
    return out, truth, ids


def test_sha256_invariant_end_to_end(pipeline_result, spark):
    out, _, _ = pipeline_result
    corpus = generate_corpus(N_FILES, SEED)
    expected = {
        hashlib.sha256(c.encode()).hexdigest() for c in corpus.files.content
    }
    got = {
        r.content_sha for r in out["files_shingled"].select("content_sha").collect()
    }
    assert got == expected


def test_clusters_are_a_partition(pipeline_result):
    out, _, _ = pipeline_result
    clusters = out["clusters"]
    assert clusters.count() == N_FILES
    assert clusters.select("file_id").distinct().count() == N_FILES
    # cluster_id is a member of its own cluster (min-id representative)
    bad = (
        clusters.alias("c")
        .join(
            clusters.select(F.col("file_id").alias("cluster_id")).distinct(),
            "cluster_id",
            "left_anti",
        )
        .count()
    )
    assert bad == 0


def test_dup_pair_recall_ge_99(pipeline_result, spark):
    out, _, ids = pipeline_result
    corpus = generate_corpus(N_FILES, SEED)
    contents = list(corpus.files.content)
    # map sequence index -> file_id via (path is unique per row)
    seq_by_path = {
        f"src/pkg{j % 13}/Class{j}.java": j for j in range(len(contents))
    }
    fid_to_seq = {
        int(r.file_id): seq_by_path[r.path] for r in ids.itertuples()
    }
    truth_pairs = brute_force_pairs(contents, CFG.jaccard_threshold)
    assert len(truth_pairs) > 50, "corpus must contain real dup pairs"

    cluster_pairs_fid = clusters_to_pairs(out["clusters"]).collect()
    got = set()
    for r in cluster_pairs_fid:
        i, j = fid_to_seq[r.id_a], fid_to_seq[r.id_b]
        got.add((min(i, j), max(i, j)))
    recall = len(truth_pairs & got) / len(truth_pairs)
    assert recall >= 0.99, f"recall {recall:.4f} over {len(truth_pairs)} true pairs"


def test_family_truth_evaluator_matches_brute_force(pipeline_result, spark):
    """The bench-scale recall evaluator (plans/truth_eval.py, VERDICT r2
    wrong#1) must agree with full brute force at a scale where brute force
    is feasible: (a) the within-family >=theta pair set IS the all-pairs
    >=theta set (no cross-family positives, validating the corpus-design
    assumption the evaluator relies on), and (b) its cluster recall matches
    the e2e recall assertion's verdict."""
    from lsh_for_source_code_spark.plans.truth_eval import (
        cluster_recall,
        family_truth_pairs,
    )

    out, truth, ids = pipeline_result
    df, _ = corpus_df(spark, n_files=N_FILES, seed=SEED)
    truth_sdf = spark.createDataFrame(truth)
    tp = family_truth_pairs(
        spark, df, truth_sdf, CFG.jaccard_threshold, CFG.shingle_k,
        boilerplate_sample_mod=1,  # exhaustive at this scale
    )

    seq_by_path = {f"src/pkg{j % 13}/Class{j}.java": j for j in range(len(truth))}
    fid_to_seq = {int(r.file_id): seq_by_path[r.path] for r in ids.itertuples()}
    got_pairs = {
        tuple(sorted((fid_to_seq[r.id_a], fid_to_seq[r.id_b])))
        for r in tp.collect()
    }
    corpus = generate_corpus(N_FILES, SEED)
    brute = brute_force_pairs(list(corpus.files.content), CFG.jaccard_threshold)
    assert got_pairs == brute, (
        f"family evaluator {len(got_pairs)} pairs != brute force {len(brute)}"
    )

    rec = cluster_recall(tp, out["clusters"])
    assert rec["truth_pairs"] == len(brute)
    assert rec["truth_recall"] >= 0.99


def test_type1_families_share_cluster(pipeline_result):
    out, truth, ids = pipeline_result
    # every byte-identical (type1) family must land in exactly one cluster
    seq_by_path = {f"src/pkg{j % 13}/Class{j}.java": j for j in range(len(truth))}
    seq_to_fid = {seq_by_path[r.path]: int(r.file_id) for r in ids.itertuples()}
    cl = {r.file_id: r.cluster_id for r in out["clusters"].collect()}
    fams = truth[truth.family == "type1"].groupby("family_id").file_seq.apply(list)
    assert len(fams) > 0
    for _, seqs in fams.items():
        cids = {cl[seq_to_fid[s]] for s in seqs}
        assert len(cids) == 1


def test_candidate_pairs_bounded_under_boilerplate_skew(spark):
    """Skew test (SURVEY.md 5.2 item 6): mega buckets must emit linearly."""
    import pandas as pd

    header = "\n".join(["// license line alpha beta gamma"] * 40)
    n = 200
    contents = [header + f"\nint unique_{i} = {i};" for i in range(n)]
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "repo": ["r"] * n,
                "path": [f"p{i}" for i in range(n)],
                "commit": ["c"] * n,
                "lang": ["java"] * n,
                "content": contents,
            }
        )
    )
    cfg = PipelineConfig(max_bucket_pairs=16)
    out = run_pipeline(spark, df, cfg)
    n_cand = out["candidate_pairs"].count()
    # per-member bound: each mega member emits <= (C-1) comparisons per band
    # plus anchor edges (chunked topology; the pure quadratic has no such
    # bound and per-band emission would be sz^2/2, not sz*C/2). The sz >>
    # C/2*bands linearity regime is asserted operator-level in
    # test_operators.py::test_candidates_mega_emission_linear_in_bucket_size.
    per_band_cap = n * cfg.mega_chunk_target // 2 + n // cfg.mega_chunk_target + 1
    assert n_cand <= min(n * (n - 1) // 2, cfg.bands * per_band_cap)
    # and clustering still groups them together
    top = (
        out["clusters"].groupBy("cluster_id").count().orderBy(F.desc("count")).first()
    )
    assert top["count"] >= n * 0.99


def test_resume_reproduces_clusters(spark, tmp_path):
    df, _ = corpus_df(spark, n_files=80, seed=3)
    cfg = PipelineConfig()
    ck = str(tmp_path / "ck")
    out1 = run_pipeline(spark, df, cfg, checkpoint_dir=ck)
    r1 = {(r.file_id, r.cluster_id) for r in out1["clusters"].collect()}
    log1 = [e["action"] for e in out1["_store"].log]
    assert all(a == "computed" for a in log1)

    out2 = run_pipeline(spark, df, cfg, checkpoint_dir=ck)
    r2 = {(r.file_id, r.cluster_id) for r in out2["clusters"].collect()}
    log2 = [e["action"] for e in out2["_store"].log]
    assert all(a == "resumed" for a in log2)
    assert r1 == r2


def test_partial_resume_after_simulated_kill(spark, tmp_path):
    """Kill after S3 (signatures), resume: S1-S3 reused, final identical."""
    import shutil

    df, _ = corpus_df(spark, n_files=80, seed=3)
    cfg = PipelineConfig()
    full_ck = str(tmp_path / "full")
    outf = run_pipeline(spark, df, cfg, checkpoint_dir=full_ck)
    expect = {(r.file_id, r.cluster_id) for r in outf["clusters"].collect()}

    part_ck = str(tmp_path / "part")
    run_pipeline(spark, df, cfg, checkpoint_dir=part_ck)
    for late in ["bands", "candidate_pairs", "verified_pairs", "clusters"]:
        shutil.rmtree(f"{part_ck}/{late}")
    out2 = run_pipeline(spark, df, cfg, checkpoint_dir=part_ck)
    actions = {e["stage"]: e["action"] for e in out2["_store"].log}
    assert actions["files_shingled"] == "resumed"
    assert actions["signatures"] == "resumed"
    assert actions["clusters"] == "computed"
    got = {(r.file_id, r.cluster_id) for r in out2["clusters"].collect()}
    assert got == expect


def test_pipeline_containment_channel_e2e(spark):
    """A seed embedded verbatim in a 7x larger host is below the jaccard bar
    but must be recovered when the containment channel is enabled."""
    import pandas as pd

    # host ~3x the seed: pair jaccard ~0.33 (below theta=0.5 -> plain
    # pipeline rejects) while P(LSH candidate | 0.33) > 0.999 with b=64,r=2
    # (the containment channel only rescores existing candidates)
    inner = "\n".join(f"int v{i} = compute_{i}(x{i});" for i in range(40))
    host = (
        "\n".join(f"String h{i} = load_{i}();" for i in range(45))
        + "\n" + inner + "\n"
        + "\n".join(f"double t{i} = sum_{i}();" for i in range(45))
    )
    others = [
        "\n".join(f"long z{i}_{j} = mix_{i}_{j}();" for i in range(30))
        for j in range(6)
    ]
    contents = [inner, host] + others
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "repo": ["r"] * len(contents),
                "path": [f"p{i}" for i in range(len(contents))],
                "commit": ["c"] * len(contents),
                "lang": ["java"] * len(contents),
                "content": contents,
            }
        )
    )
    cfg = PipelineConfig(containment_threshold=0.8)
    plain = run_pipeline(spark, df, cfg)
    ids = {r.path: r.file_id for r in with_file_id(df).select("path", "file_id").collect()}
    pair = tuple(sorted([ids["p0"], ids["p1"]]))
    plain_pairs = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b))
        for r in plain["verified_pairs"].collect()
    }
    assert pair not in plain_pairs  # jaccard alone misses the containment dup

    withc = run_pipeline(spark, df, cfg, with_containment=True)
    withc_pairs = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b))
        for r in withc["verified_pairs"].collect()
    }
    assert pair in withc_pairs
    cl = {r.file_id: r.cluster_id for r in withc["clusters"].collect()}
    assert cl[ids["p0"]] == cl[ids["p1"]]


def test_lcs_containment_channel(spark):
    """Containment dups (seed embedded in 3-10x larger host) are below the
    jaccard/overlap bar but caught by the LCS channel."""
    import pandas as pd

    from lsh_for_source_code_spark.operators.verify import make_lcs_containment_udf

    inner = "\n".join(f"int v{i} = compute_{i}(x{i});" for i in range(30))
    host = (
        "\n".join(f"String h{i} = load_{i}();" for i in range(100))
        + "\n" + inner + "\n"
        + "\n".join(f"double t{i} = sum_{i}();" for i in range(100))
    )
    df = spark.createDataFrame(
        pd.DataFrame({"content_a": [inner, "abc"], "content_b": [host, "xyz"]})
    )
    rows = df.withColumn(
        "c", make_lcs_containment_udf(0.0)("content_a", "content_b")
    ).collect()
    assert rows[0].c > 0.95  # inner is contained verbatim
    assert rows[1].c < 0.5


def test_lcs_gate_probe_matches_exact_above_threshold():
    """The min_containment gate probe (VERDICT r1 next#8) must return the
    EXACT value for every pair at/above the threshold and 0.0 below it --
    checked against the ungated UDF's values on random strings with planted
    shared substrings."""
    import random

    from lsh_for_source_code_spark.operators.verify import (
        _RollingHasher,
        _lcs_len,
    )
    import numpy as np

    rng = random.Random(17)
    theta = 0.8
    for trial in range(40):
        n = rng.randint(5, 120)
        a = "".join(rng.choice("abcdef") for _ in range(n))
        b = "".join(rng.choice("abcdef") for _ in range(rng.randint(5, 120)))
        if trial % 2:
            # plant a shared run to hit the >= theta branch often
            L = rng.randint(1, min(len(a), len(b)))
            b = b[: len(b) - L] + a[:L]
        ca = np.frombuffer(a.encode(), dtype=np.uint8)
        cb = np.frombuffer(b.encode(), dtype=np.uint8)
        m = min(len(ca), len(cb))
        exact = _lcs_len(ca, cb) / m
        # reimplement the gate inline (the UDF body's branch)
        L0 = min(m, max(1, int(np.ceil(theta * m))))
        ha, hb = _RollingHasher(ca), _RollingHasher(cb)
        if not np.intersect1d(ha.window_keys(L0), hb.window_keys(L0)).size:
            gated = 0.0
            assert exact < theta, (a, b, exact)
        else:
            from lsh_for_source_code_spark.operators.verify import _lcs_len_from

            gated = _lcs_len_from(ha, hb, L0, m) / m
            assert gated == exact, (a, b, gated, exact)


def test_lcs_gate_key_budget_slicing_preserves_results(monkeypatch):
    """The gate's key-budget slicing (ADVICE r3: unbounded batch
    concatenation could peak at multi-GB) must be value-invariant: forcing
    a tiny budget so every batch splits into many slices yields exactly the
    unsliced output. Calls the raw UDF function in-process (pandas in/out)
    so the monkeypatched budget is actually seen."""
    import random

    import pandas as pd

    import lsh_for_source_code_spark.operators.verify as V

    rng = random.Random(23)
    docs = [
        "".join(rng.choice("abcdefg") for _ in range(rng.randint(20, 300)))
        for _ in range(12)
    ]
    # plant containment pairs + random pairs, with hub docs repeated
    a_col, b_col = [], []
    for i in range(30):
        a = docs[i % len(docs)]
        if i % 3 == 0:
            b = docs[(i + 1) % len(docs)][:10] + a + docs[(i + 2) % len(docs)][:10]
        else:
            b = docs[(i + 5) % len(docs)]
        a_col.append(a)
        b_col.append(b)
    sa, sb = pd.Series(a_col), pd.Series(b_col)
    fn = V.make_lcs_containment_udf(0.8).func
    baseline = fn(sa, sb)
    monkeypatch.setattr(V, "_GATE_KEY_BUDGET", 64)  # forces many slices
    sliced = V.make_lcs_containment_udf(0.8).func(sa, sb)
    assert list(baseline) == list(sliced)
    assert (baseline > 0).any() and (baseline == 0).any()


def test_file_id_collision_audit_raises(spark):
    """Forced 1-bit id space => certain collision => audit must raise
    (VERDICT r2 next#8). id_expr is the test hook; production uses the
    full 64-bit xxhash. Null key columns: distinct keys with a null
    column must count as distinct (no false alarm), while two keys that
    differ only in where the null sits hash alike (xxhash64 skips nulls)
    and must raise."""
    df, _ = corpus_df(spark, n_files=20, seed=3)
    with pytest.raises(RuntimeError, match="collision"):
        with_file_id(
            df,
            check_collisions=True,
            id_expr=F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(2)),
        ).count()

    schema = "repo string, path string, commit string"
    null_commit = spark.createDataFrame(
        [("r", "a", "c"), ("r", "b", "c"), ("r", "c", None)], schema
    )
    assert with_file_id(null_commit, check_collisions=True).count() == 3
    shifted_null = spark.createDataFrame([("r", "b", None), ("r", None, "b")], schema)
    with pytest.raises(RuntimeError, match="2 natural keys -> 1 ids"):
        with_file_id(shifted_null, check_collisions=True)


def test_run_pipeline_runs_collision_audit_by_default(spark, monkeypatch):
    """run_pipeline always runs the id audit: with the id space squeezed
    to 1 bit, the pipeline raises before any downstream stage."""
    import lsh_for_source_code_spark.plans.pipeline as pl

    orig = pl.with_file_id

    def squeezed(code_files, check_collisions=False, id_expr=None):
        return orig(
            code_files,
            check_collisions=check_collisions,
            id_expr=F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(2)),
        )

    monkeypatch.setattr(pl, "with_file_id", squeezed)
    df, _ = corpus_df(spark, n_files=20, seed=3)
    with pytest.raises(RuntimeError, match="collision"):
        pl.run_pipeline(spark, df, CFG)


def test_lcs_hybrid_search_matches_per_pair_across_crossover():
    """The r4 hybrid exact-LCS search (batched bisection below
    _LCS_BATCH_SEARCH_MAX_BYTES combined size, per-pair numpy probes
    above) must match the pure per-pair search on a batch that straddles
    the crossover, in both exact (min_containment 0.0) and gated modes."""
    import numpy as np

    from lsh_for_source_code_spark.operators import verify as V

    rng = np.random.default_rng(13)
    docs = [
        "".join(rng.choice(list("abcd {};\n"), size=int(n)))
        for n in np.concatenate(
            [rng.integers(1, 70, 40), rng.integers(100, 900, 40)]
        )
    ]
    ia, ib = rng.integers(0, 80, 400), rng.integers(0, 80, 400)
    A = [docs[i] for i in ia]
    B = [docs[i] for i in ib]
    for mc in (0.0, 0.3, 0.8):
        got = V.make_lcs_containment_udf(mc)._plain_batch(A, B)
        ref = np.zeros(len(A))
        hashers: dict = {}

        def H(s):
            if s not in hashers:
                hashers[s] = V._RollingHasher(
                    np.frombuffer(s.encode(), dtype=np.uint8)
                )
            return hashers[s]

        for i, (a, b) in enumerate(zip(A, B)):
            ha, hb = H(a), H(b)
            m = min(ha.n, hb.n)
            if m == 0:
                continue
            if mc == 0.0:
                ref[i] = V._lcs_len_from(ha, hb, 0, m) / m
            else:
                L0 = min(m, max(1, int(np.ceil(mc * m))))
                if len(
                    np.intersect1d(ha.window_keys(L0), hb.window_keys(L0))
                ):
                    ref[i] = V._lcs_len_from(ha, hb, L0, m) / m
        assert np.allclose(got, ref), mc


def test_config_rejects_bad_simhash_layout():
    # the fingerprint is one 64-bit long: wider layouts must fail loudly
    with pytest.raises(ValueError):
        PipelineConfig(simhash_bits=128)
    # pigeonhole needs more blocks than differing bits
    with pytest.raises(ValueError):
        PipelineConfig(simhash_table_blocks=3, simhash_hamming_max=3)
    # a mega-bucket chunk needs at least two members
    with pytest.raises(ValueError):
        PipelineConfig(mega_chunk_target=1)


def test_verify_broadcast_gate_output_identical(spark, monkeypatch):
    """The size-gated verify feature join has two shapes -- both sides
    broadcast (gate passes; r6 resumed session broadcasts the a-side
    too) vs two pinned SHUFFLE_HASH joins (gate off, the production
    fallback). They must produce the identical verified pair set with
    identical jaccard values."""
    from lsh_for_source_code_spark.functions.minhash import sign_files
    from lsh_for_source_code_spark.operators import verify
    from lsh_for_source_code_spark.plans.pipeline import (
        lsh_stages,
        shingle_stage,
        with_file_id,
    )

    df, _ = corpus_df(spark, n_files=120, seed=9)
    cfg = PipelineConfig()
    shingled = shingle_stage(with_file_id(df), cfg)
    _, cands, _ = lsh_stages(sign_files(shingled, cfg), shingled, cfg)

    def verified():
        return sorted(
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in verify.verify_pairs(cands, shingled, cfg).collect()
        )

    bcast = verified()
    monkeypatch.setattr(verify, "BROADCAST_MAX_ROWS", 0)
    assert verified() == bcast and bcast


def test_pipeline_survives_ansi_mode(spark):
    """Spark 4's default is spark.sql.ansi.enabled=true; our session
    builder turns it off, but a user embedding the library in their OWN
    session will run under ANSI. The full pipeline, overlap channel
    included, must produce identical results in both modes, not raise."""
    df, _ = corpus_df(spark, n_files=80, seed=3)
    cfg = PipelineConfig(overlap_threshold=0.5)  # overlap channel on
    base = run_pipeline(spark, df, cfg)
    expect = {(r.id_a, r.id_b) for r in base["verified_pairs"].collect()}
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        out = run_pipeline(spark, df, cfg)
        got = {(r.id_a, r.id_b) for r in out["verified_pairs"].collect()}
        assert got == expect and got
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")

"""Operator-level tests: banding, candidates (skew cap/star), verification,
connected components (SURVEY.md 5.2 items 1, 6)."""

from __future__ import annotations

from dataclasses import replace

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lsh_for_source_code_spark.config import (
    PipelineConfig,
    candidate_probability,
    reference_signature_size,
)
from lsh_for_source_code_spark.functions.minhash import sign_files, signature_agreement
from lsh_for_source_code_spark.functions.tokenize import shingle_files
from lsh_for_source_code_spark.operators.banding import band_files
from lsh_for_source_code_spark.operators.candidates import (
    bucket_occupancy,
    candidate_pairs,
    simhash_candidate_pairs,
)
from lsh_for_source_code_spark.operators.components import (
    clusters_to_pairs,
    connected_components,
)
from lsh_for_source_code_spark.operators.verify import verify_pairs


CFG = PipelineConfig(
    num_perm=16, bands=8, rows_per_band=2, max_bucket_pairs=4,
)


def _signed(spark, contents):
    df = spark.createDataFrame(
        pd.DataFrame(
            {"file_id": np.arange(len(contents), dtype=np.int64), "content": contents}
        )
    )
    return sign_files(shingle_files(df), CFG)


def test_reference_signature_size_rule():
    # stages=10 -> r=5 -> size=50: the committed golden-run config
    # (LSHMinHash.java:92-96, output dir name).
    assert reference_signature_size(10) == 50


def test_candidate_probability_s_curve():
    assert candidate_probability(1.0, 64, 2) == 1.0
    assert candidate_probability(0.5, 64, 2) > 0.99
    assert candidate_probability(0.05, 64, 2) < 0.15


def test_banding_identical_signatures_collide(spark):
    signed = _signed(spark, ["int a = 1; int b = 2;"] * 2 + ["float z = 9.0;"])
    bands = band_files(signed, CFG)
    assert bands.count() == 3 * CFG.bands
    both = (
        bands.groupBy("band_id", "band_hash")
        .agg(F.collect_set("file_id").alias("ids"))
        .filter(F.array_contains("ids", 0) & F.array_contains("ids", 1))
        .count()
    )
    assert both == CFG.bands  # identical docs collide in every band


def test_banding_excludes_degenerate(spark):
    signed = _signed(spark, ["int a = 1;", ""])
    assert band_files(signed, CFG).select("file_id").distinct().count() == 1


def test_signature_agreement_estimator(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"a": [[1, 2, 3, 4]], "b": [[1, 9, 3, 7]]})
    )
    v = df.select(signature_agreement(F.col("a"), F.col("b")).alias("s")).first().s
    assert v == pytest.approx(0.5)


def test_candidates_small_bucket_all_pairs(spark):
    bands = spark.createDataFrame(
        pd.DataFrame(
            {
                "file_id": [1, 2, 3, 10, 11],
                "band_id": [0] * 5,
                "band_hash": [7, 7, 7, 8, 8],
            }
        )
    )
    got = {
        (r.id_a, r.id_b)
        for r in candidate_pairs(bands, CFG).collect()
    }
    assert got == {(1, 2), (1, 3), (2, 3), (10, 11)}


def test_candidates_mega_bucket_star_topology(spark):
    """mega_chunk_target=1 degrades to the pure star (r1/r2 behavior)."""
    n = 20  # > max_bucket_pairs=4
    bands = spark.createDataFrame(
        pd.DataFrame(
            {"file_id": range(n), "band_id": [0] * n, "band_hash": [7] * n}
        )
    )
    cfg = replace(CFG, mega_chunk_target=1)
    rows = candidate_pairs(bands, cfg).collect()
    # linear, not quadratic: n-1 star edges from the min-id anchor
    assert len(rows) == n - 1
    assert all(r.id_a == 0 for r in rows)


def test_candidates_mega_bucket_chunked_topology(spark):
    """Default mega path: random ~C-sized chunks emit exact all-pairs plus
    chunk-min -> anchor edges. Invariants: (a) linear work -- far below the
    quadratic pair count; (b) the candidate graph connects the WHOLE bucket
    (pre-verify connectivity, the old star guarantee); (c) every member gets
    multiple comparisons (the recall lever vs the pure star)."""
    n = 200  # >> max_bucket_pairs=4
    bands = spark.createDataFrame(
        pd.DataFrame(
            {"file_id": range(n), "band_id": [0] * n, "band_hash": [7] * n}
        )
    )
    cfg = replace(CFG, mega_chunk_target=8)
    rows = candidate_pairs(bands, cfg).collect()
    # (a) linear: expected ~ n*(C-1)/2 + n/C edges, quadratic would be 19900
    assert len(rows) < n * cfg.mega_chunk_target
    # (b) connectivity: union-find over candidate edges -> one component
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        ra, rb = find(int(r.id_a)), find(int(r.id_b))
        if ra != rb:
            parent[ra] = rb
    assert len({find(i) for i in range(n)}) == 1
    # (c) average degree well above the star's ~1
    deg = pd.Series(
        [r.id_a for r in rows] + [r.id_b for r in rows]
    ).value_counts()
    assert deg.mean() >= 3.0


def test_candidates_mega_emission_linear_in_bucket_size(spark):
    """The scale invariant of the chunked mega path: emission is bounded by
    sz * C/2 per band -- LINEAR in bucket size -- so a 2x bucket emits ~2x
    (never 4x) candidates once sz >> C/2 * bands. sz=5000 in one band:
    quadratic all-pairs would be 12.5M; the chunk bound is ~40k."""
    cfg = replace(CFG, max_bucket_pairs=64, mega_chunk_target=16)
    counts = {}
    for n in (2500, 5000):
        bands = spark.createDataFrame(
            pd.DataFrame(
                {"file_id": range(n), "band_id": [0] * n, "band_hash": [7] * n}
            )
        )
        counts[n] = candidate_pairs(bands, cfg).count()
        # random chunk sizes s ~ Binomial(n, 1/nchunks): E[pairs] =
        # n*(C-1+var/mean)/2 ~ n*C/2; +10% covers hash-mod variance
        cap = int(1.1 * (n * (cfg.mega_chunk_target + 1) / 2)) + n // cfg.mega_chunk_target + 2
        assert counts[n] <= cap, f"sz={n}: {counts[n]} > linear cap {cap}"
    growth = counts[5000] / counts[2500]
    assert growth < 2.5, f"emission grew {growth:.2f}x for a 2x bucket"


def test_candidates_mega_refinement_finds_agreeing_pairs(spark):
    """Junk-bucket refinement (config.mega_refine_levels): a mega bucket of
    mutually-dissimilar files hides two genuinely-agreeing pairs. With
    `signed` provided, the extension perms isolate the agreeing pairs into
    tiny refined sub-buckets and they MUST be emitted exactly -- under the
    pure star/chunk fallback they would only surface by chunk lottery."""
    n = 400
    rng = np.random.default_rng(11)
    cfg = replace(
        CFG, max_bucket_pairs=4, mega_chunk_target=2, mega_refine_levels=2
    )
    # every file shares band (0, 7); minhash arrays are random EXCEPT the
    # planted pairs, which agree on the refinement perms (2, 3) and beyond
    mh = rng.integers(1, 1 << 40, size=(n, cfg.num_perm)).astype("int64")
    for a, b in ((0, 1), (2, 3)):
        mh[b] = mh[a]
    bands = spark.createDataFrame(
        pd.DataFrame({"file_id": range(n), "band_id": [0] * n, "band_hash": [7] * n})
    )
    signed = spark.createDataFrame(
        pd.DataFrame({"file_id": range(n), "minhash": [list(r) for r in mh]})
    )
    got = {
        (r.id_a, r.id_b)
        for r in candidate_pairs(bands, cfg, signed=signed).collect()
    }
    assert {(0, 1), (2, 3)} <= got
    # junk stays bounded: far below the 79,800 quadratic pair count
    assert len(got) < n * cfg.max_bucket_pairs * cfg.mega_refine_levels


def test_refine_union_join_equals_two_join_reference(spark):
    """The r6 single union-key join inside _refine_mega (emit + residual
    keys through ONE work join, split by a boolean) must produce exactly
    the pairs and residual rows of the straightforward reference shape
    (separate emit join and residual join). The persist-strategy equality
    test cannot catch a logic bug here because all strategies share the
    same join code; this reference reimplements the emission policy
    independently."""
    from pyspark.sql import functions as F

    from lsh_for_source_code_spark.operators.candidates import _refine_mega

    n = 500
    rng = np.random.default_rng(37)
    cfg = replace(
        CFG, max_bucket_pairs=4, mega_chunk_target=2, mega_refine_levels=3
    )
    mh = rng.integers(1, 1 << 40, size=(n, cfg.num_perm)).astype("int64")
    # planted cohesive groups of several sizes so emit triggers at
    # different levels (sz <= C at level 0, C < sz <= cap at level >= 1)
    for grp in ((0, 1), (10, 11, 12), (20, 21, 22, 23), tuple(range(30, 38))):
        for m in grp[1:]:
            mh[m] = mh[grp[0]]
    mega = spark.createDataFrame(
        pd.DataFrame(
            {
                "band_id": [0] * n,
                "_key": [7] * n,
                "file_id": range(n),
                "sz": [n] * n,
                "anchor": [0] * n,
            }
        )
    )
    signed = spark.createDataFrame(
        pd.DataFrame({"file_id": range(n), "minhash": [list(r) for r in mh]})
    )
    levels = int(cfg.mega_refine_levels)
    exact, residual = _refine_mega(mega, signed, cfg, levels)
    got_pairs = sorted((r.id_a, r.id_b) for r in exact.collect())
    got_res = sorted(
        (r.band_id, r._key, r.file_id, r.sz, r.anchor) for r in residual.collect()
    )

    # independent reference: pull the cumulative key chain from Spark
    # itself (python has no xxhash64 twin), then apply the emission
    # policy in plain python
    r_, p_ = cfg.rows_per_band, cfg.num_perm
    C = max(int(cfg.mega_chunk_target), 2)
    cap = int(cfg.max_bucket_pairs)
    key_cols = []
    k = F.lit(7).cast("long")
    for l in range(levels):
        k = F.xxhash64(
            k, F.element_at("minhash", ((0 * r_ + r_ + l) % p_ + 1))
        )
        key_cols.append(k.alias(f"k{l}"))
    kdf = signed.select("file_id", *key_cols).collect()
    from collections import defaultdict

    members = defaultdict(list)  # (lvl, key) -> [file_id]
    for row in kdf:
        for l in range(levels):
            members[(l, row[f"k{l}"])].append(row.file_id)
    ref_pairs = []
    ref_res = []
    for (l, key), ms in sorted(members.items()):
        sz = len(ms)
        emits = sz >= 2 and (sz <= C or (l >= 1 and sz <= cap))
        if emits:
            ms = sorted(ms)
            ref_pairs += [
                (a, b) for i, a in enumerate(ms) for b in ms[i + 1 :]
            ]
        if l == levels - 1 and sz > cap:
            ref_res += [(0, key, f, sz, min(ms)) for f in ms]
    assert got_pairs == sorted(ref_pairs)
    assert got_res == sorted(ref_res)


def test_candidates_n_shared_bands_dedup(spark):
    bands = spark.createDataFrame(
        pd.DataFrame(
            {
                "file_id": [1, 2, 1, 2],
                "band_id": [0, 0, 1, 1],
                "band_hash": [7, 7, 9, 9],
            }
        )
    )
    rows = candidate_pairs(bands, CFG).collect()
    assert len(rows) == 1 and rows[0].n_shared_bands == 2


def test_bucket_occupancy_reports_skew(spark):
    bands = spark.createDataFrame(
        pd.DataFrame(
            {"file_id": range(10), "band_id": [0] * 10, "band_hash": [5] * 9 + [6]}
        )
    )
    top = bucket_occupancy(bands, top_k=1).first()
    assert top["count"] == 9 and top.band_hash == 5


def test_verify_exact_jaccard_and_overlap(spark):
    # A = {a:2, b:1}, B = {a:1, c:1}: jaccard = 1/3,
    # multiset overlap = min(2,1) / max(3, 2) = 1/3
    docs = spark.createDataFrame(
        pd.DataFrame({"file_id": [1, 2], "content": ["aa aa bb", "aa cc"]})
    )
    shingled = shingle_files(docs)
    cands = spark.createDataFrame(pd.DataFrame({"id_a": [1], "id_b": [2]}))
    # an overlap threshold selects the overlap channel (pair_scores_udf)
    row = verify_pairs(
        cands, shingled, replace(CFG, overlap_threshold=0.7), keep_all=True
    ).first()
    assert row.jaccard == pytest.approx(1 / 3)
    assert row.overlap == pytest.approx(1 / 3)


def test_verify_threshold_filter(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "file_id": [1, 2, 3],
                "content": ["a b c d", "a b c d e", "x y z w"],
            }
        )
    )
    shingled = shingle_files(docs)
    cands = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 1], "id_b": [2, 3]})
    )
    rows = verify_pairs(cands, shingled, CFG).collect()
    assert {(r.id_a, r.id_b) for r in rows} == {(1, 2)}


def test_connected_components_chain_star_singleton(spark):
    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 3, 10, 10], "id_b": [2, 3, 4, 11, 12]})
    )
    nodes = spark.createDataFrame(pd.DataFrame({"file_id": list(range(1, 5)) + [10, 11, 12, 99]}))
    got = {
        r.file_id: r.cluster_id
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_connected_components_no_edges(spark):
    """An empty edge set makes every node its own cluster, labelled inside
    the JVM: the executed plan scans no driver-side RDD (an empty
    createDataFrame is a parallelized Python RDD, Python-worker tasks for
    zero rows)."""
    edges = spark.range(0).select(F.col("id").alias("id_a"), F.col("id").alias("id_b"))
    nodes = spark.range(5).select(F.col("id").alias("file_id"))
    out = connected_components(edges, nodes=nodes)
    got = {r.file_id: r.cluster_id for r in out.collect()}
    assert got == {i: i for i in range(5)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan


def test_connected_components_distributed_path_matches_driver_path(spark):
    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 3, 10, 10], "id_b": [2, 3, 4, 11, 12]})
    )
    nodes = spark.createDataFrame(
        pd.DataFrame({"file_id": list(range(1, 5)) + [10, 11, 12, 99]})
    )
    via_driver = {
        (r.file_id, r.cluster_id)
        for r in connected_components(edges, nodes=nodes).collect()
    }
    via_labelprop = {
        (r.file_id, r.cluster_id)
        for r in connected_components(edges, nodes=nodes, driver_max_edges=0).collect()
    }
    assert via_driver == via_labelprop


def test_connected_components_long_chain_distributed(spark):
    """VERDICT r2 missing#2: the distributed path must converge on a long
    chain (containment-ladder topology) in far fewer rounds than the chain's
    diameter. A 300-node path has diameter 299; large/small-star contracts
    it within the default max_iter=25 (label propagation would need ~300
    rounds and return WRONG labels here)."""
    n = 300
    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(n - 1)), "id_b": list(range(1, n))})
    )
    got = {
        r.file_id: r.cluster_id
        for r in connected_components(edges, driver_max_edges=0).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_connected_components_unconverged_raises(spark):
    """A distributed run that exhausts max_iter before the edge set reaches
    its fixpoint must fail loudly, not return unconverged labels: one round
    cannot contract a 300-node chain."""
    n = 300
    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(n - 1)), "id_b": list(range(1, n))})
    )
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(edges, driver_max_edges=0, max_iter=1)


def test_connected_components_random_graph_both_paths(spark):
    """Cross-validate driver union-find vs distributed star contraction on a
    random graph with mixed component shapes (cliques, chains, singletons)."""
    rng = np.random.default_rng(17)
    n = 400
    src = rng.integers(0, n, size=350)
    dst = rng.integers(0, n, size=350)
    edges = spark.createDataFrame(pd.DataFrame({"id_a": src, "id_b": dst}))
    nodes = spark.createDataFrame(pd.DataFrame({"file_id": list(range(n))}))
    via_driver = {
        (r.file_id, r.cluster_id)
        for r in connected_components(edges, nodes=nodes).collect()
    }
    via_star = {
        (r.file_id, r.cluster_id)
        for r in connected_components(
            edges, nodes=nodes, driver_max_edges=0
        ).collect()
    }
    assert via_driver == via_star


def test_clusters_to_pairs(spark):
    clusters = spark.createDataFrame(
        pd.DataFrame({"file_id": [1, 2, 3, 9], "cluster_id": [1, 1, 1, 9]})
    )
    got = {(r.id_a, r.id_b) for r in clusters_to_pairs(clusters).collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_simhash_candidates_find_near_identical(spark):
    base = " ".join(f"tok{i}" for i in range(300))
    variant = base + " extra1 extra2"
    signed = _signed(spark, [base, variant, "completely different words here"])
    pairs = simhash_candidate_pairs(signed, CFG).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}


@pytest.mark.parametrize("table_blocks", [None, 8])
def test_simhash_mega_block_star_topology(spark, table_blocks):
    """A hot key (here: identical fingerprints, so every single-block key
    and every 5-of-8 combination key is hot) must emit O(n) star pairs,
    not O(n^2) (VERDICT r1 wrong#2). mega_chunk_target=1 degrades to the
    pure star."""
    n = 30
    cfg = PipelineConfig(
        num_perm=16, bands=8, rows_per_band=2, simhash_max_block=8,
        mega_chunk_target=1, simhash_table_blocks=table_blocks,
    )
    signed = spark.createDataFrame(
        pd.DataFrame({"file_id": range(n), "simhash": [0x1234] * n})
    )
    rows = simhash_candidate_pairs(signed, cfg).collect()
    # hamming(identical)=0 <= t, star topology: n-1 anchor edges only
    assert len(rows) == n - 1
    assert all(r.id_a == 0 and r.hamming == 0 for r in rows)


def test_simhash_mega_block_chunked_recall(spark):
    """r2 ADVICE (candidates.py low): the pure star gives each mega-block
    member exactly ONE comparison (vs the min-id anchor); the chunked
    topology gives C-1 direct member-member comparisons. Here ids 1..n are
    pairwise hamming-0 while anchor id 0 is 8 bits away (> t=3): the star's
    anchor edges all fail the hamming filter in the anchor's own block, so
    direct member pairs must come from chunk all-pairs. Work stays linear."""
    n = 100
    cfg = PipelineConfig(
        num_perm=16, bands=8, rows_per_band=2, simhash_max_block=8,
        mega_chunk_target=8,
    )
    signed = spark.createDataFrame(
        pd.DataFrame(
            {"file_id": range(n + 1), "simhash": [0xFF00] + [0x0F0F] * n}
        )
    )
    rows = simhash_candidate_pairs(signed, cfg).collect()
    # anchor id 0 never appears: hamming(0xFF00, 0x0F0F) = 8 > t
    assert all(r.id_a >= 1 and r.hamming == 0 for r in rows)
    # members got direct pairs, more than a single star would give...
    assert len(rows) > n
    # ...but far fewer than quadratic all-pairs (linear in block size)
    assert len(rows) < 4 * n * cfg.mega_chunk_target < n * (n - 1) // 2


def test_simhash_small_blocks_unchanged_by_cap(spark):
    """With blocks under the cap the capped path emits exactly the same
    pairs as before (done-criterion from VERDICT r1 next#4)."""
    base = " ".join(f"tok{i}" for i in range(300))
    variant = base + " extra1 extra2"
    contents = [base, variant, "completely different words here"]
    signed = _signed(spark, contents)
    uncapped = PipelineConfig(
        num_perm=16, bands=8, rows_per_band=2, max_bucket_pairs=4,
        simhash_max_block=1 << 30,
    )
    capped = PipelineConfig(
        num_perm=16, bands=8, rows_per_band=2, max_bucket_pairs=4,
        simhash_max_block=2,
    )
    got_u = {(r.id_a, r.id_b, r.hamming)
             for r in simhash_candidate_pairs(signed, uncapped).collect()}
    got_c = {(r.id_a, r.id_b, r.hamming)
             for r in simhash_candidate_pairs(signed, capped).collect()}
    assert got_u == got_c  # blocks here have <= 2 members
    assert {p[:2] for p in got_u} == {(0, 1)}


def test_verify_jaccard_probe_matches_jvm_intersect(spark):
    """The overlap channel's per-pair sorted binary-search probe
    (pair_scores_udf) must yield a jaccard that agrees EXACTLY with the
    jaccard-only channel's JVM array_intersect expression on every pair --
    including docs whose shingle hashes straddle the int64 sign boundary
    (the probe must compare in uint64 order)."""
    rng = np.random.default_rng(29)
    vocab = [f"tok{i}" for i in range(60)]
    contents = [
        " ".join(rng.choice(vocab, size=rng.integers(1, 80)))
        for _ in range(40)
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"file_id": range(40), "content": contents})
    )
    shingled = shingle_files(docs)
    cands = spark.createDataFrame(
        pd.DataFrame(
            {
                "id_a": [i for i in range(39) for _ in range(2)],
                "id_b": [j for i in range(39) for j in (i + 1, (i + 11) % 40)],
            }
        ).query("id_a < id_b")
    )
    # sign-boundary coverage: hashed shingle values must span both signs
    signs = shingled.select(
        F.sum(
            F.size(F.filter("shingles", lambda x: x < 0))
        ).alias("neg"),
        F.sum(F.size(F.filter("shingles", lambda x: x >= 0))).alias("pos"),
    ).first()
    assert signs.neg > 0 and signs.pos > 0
    overlap_cfg = replace(CFG, overlap_threshold=0.7)  # selects the probe
    probe_rows = (
        verify_pairs(cands, shingled, overlap_cfg, keep_all=True)
        .select("id_a", "id_b", "jaccard")
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    jvm_rows = (
        verify_pairs(cands, shingled, CFG, keep_all=True)
        .select("id_a", "id_b", "jaccard")
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    assert len(probe_rows) == len(jvm_rows) > 0
    assert (probe_rows.jaccard == jvm_rows.jaccard).all()  # bit-exact
    assert (probe_rows.jaccard > 0).any()


def test_simhash_manku_tables_beat_narrow_blocks_at_scale(spark):
    """Extreme-scale SimHash table design (VERDICT r3 next#5, Manku WWW'07),
    demonstrated at test scale: 60k uniform fingerprints restricted to
    simhash_bits=32 so the m=t+1 single-block key is only 8 bits wide --
    every bucket holds ~235 unrelated docs >> simhash_max_block, i.e. the
    exact degeneracy the 64-bit/16-bit design hits at ~10^12 docs. Planted
    pairs at hamming <= 3 then ride the mega-chunk lottery (recall well
    below 1), while the SAME fingerprints keyed on 5-of-8 block
    combinations (20-bit keys, C(8,5)=56 tables) recover recall ~1 at the
    same max_block. Key entropy, not luck, is the difference."""
    from dataclasses import replace

    from lsh_for_source_code_spark.operators.candidates import (
        simhash_candidate_pairs,
    )

    rng = np.random.default_rng(41)
    n, n_planted = 60_000, 400
    base = rng.integers(0, 1 << 32, size=n, dtype=np.uint64)
    ids = np.arange(n, dtype=np.int64)
    # plant near-dups: doc n+i is doc i with <= 3 random bits flipped
    flips = rng.integers(1, 4, size=n_planted)
    planted = []
    for i in range(n_planted):
        fp = int(base[i])
        for b in rng.choice(32, size=flips[i], replace=False):
            fp ^= 1 << int(b)
        planted.append(fp)
    all_fp = np.concatenate([base.astype(np.int64), np.array(planted, dtype=np.int64)])
    all_ids = np.concatenate([ids, np.arange(n, n + n_planted, dtype=np.int64)])
    fps = spark.createDataFrame(
        pd.DataFrame({"file_id": all_ids, "simhash": all_fp})
    )

    def recall(cfg):
        pairs = {
            (r.id_a, r.id_b)
            for r in simhash_candidate_pairs(fps, cfg).collect()
        }
        hits = sum((i, n + i) in pairs for i in range(n_planted))
        return hits / n_planted

    narrow = PipelineConfig(
        simhash_bits=32,
        simhash_hamming_max=3,
        simhash_table_blocks=4,   # 8-bit keys: ~235 docs/bucket, degenerate
        simhash_max_block=16,
        mega_chunk_target=4,
    )
    manku = replace(narrow, simhash_table_blocks=8)  # 20-bit combo keys
    r_narrow, r_manku = recall(narrow), recall(manku)
    # narrow keys: recall rides the chunk lottery; combo keys: ~1.0
    assert r_manku >= 0.99, r_manku
    assert r_narrow < 0.8, r_narrow

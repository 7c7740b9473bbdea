"""Physical-plan audits: assert the Catalyst plans ARE the plans we
designed for 100 TB, not just that the results are right.

Each property here is a scale invariant the architecture depends on
(ARCHITECTURE.md "Why these choices survive 100x"): filters reach the
parquet scan, scans read only referenced columns, aggregations combine
map-side before the exchange, big self-joins never broadcast or go
cartesian, and the hot aggregation pipeline stays inside whole-stage
codegen. A refactor that silently regresses any of these keeps every
result-correctness test green while multiplying 100 TB cost -- this file
is the regression net.
"""

from __future__ import annotations

import pytest

from lsh_for_source_code_spark.entry_queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"

#: queries whose plans are audited for the absence of cartesian products.
#: (Not all 66: constructors that eagerly run sub-jobs -- CC label
#: collection, occupancy stats -- are covered by their own operator tests;
#: this list spans every JOIN SHAPE the engine emits: band self-join,
#: verify feature join, inverted-index posting join, simhash block join,
#: embedding bucket join, broadcast dim join, window/agg-only plans.)
_AUDITED = [
    "near_dup_pairs",
    "near_dup_pairs_k3",
    "delta_dedup",
    "overlap_dup_pairs",
    "ngram_jaccard_pairs",
    "simhash_hamming_pairs",
    "embedding_cosine_dups",
    "winnow_overlap_pairs",
    "embedding_topk",
    "broadcast_dim_join",
    "top_customer_per_nation",
    "agg_lineitem",
    "token_counts",
    "events_hourly",
    "exact_dup_groups",
    "lcs_containment_pairs",
    "simhash_winnow",
    "media_features",
    "embedding_ivf_topk",
    "shipping_priority",
    "regional_revenue",
    "decontamination_overlap",
    "repetition_profile",
    "pii_scrub",
    "sample_stratified",
    "duplicate_spans",
    "minhash_kernel_twin",
    "simhash_kernel_twin",
    "curation_funnel",
    "hll_distinct",
    "cms_heavy_hitters",
    "lm_quality",
    "chunk_dedup_rewrite",
    "asof_join_events",
    "range_join_events",
    "events_rollup_hierarchy",
]


def test_duplicate_spans_plan(spark):
    """The ExactSubstr-style span query must (a) never broadcast or sort
    the posting table (uniform int64 window hashes -> shuffled hash join),
    and (b) map-side combine the per-(doc, window) counts before the
    exchange -- within-doc repeats collapse locally, the same discipline
    as the candidate stage."""
    from lsh_for_source_code_spark.entry_queries import QUERIES as Q

    p = _plan(spark, Q["duplicate_spans"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p, "posting join must not sort int64 hashes"
    simple = _plan(spark, Q["duplicate_spans"](spark, SF_DIR), "simple")
    ex = simple.index("Exchange")
    assert "partial_count" in simple[ex:], "no map-side combine below exchange"


def _plan(spark, df, mode: str = "formatted") -> str:
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


@pytest.mark.parametrize("name", _AUDITED)
def test_no_cartesian_product(spark, name):
    """No audited plan may contain a cartesian product. The one deliberate
    cross join (embedding_topk's bounded 10-vector query set) must compile
    to a broadcast nested-loop join, never CartesianProduct."""
    p = _plan(spark, QUERIES[name](spark, SF_DIR))
    assert "CartesianProduct" not in p, name
    if name == "embedding_topk":
        assert "BroadcastNestedLoopJoin" in p
    if name == "lcs_containment_pairs":
        # bounded 12-row pair dim: non-equi join must broadcast, never
        # cartesian-shuffle
        assert "BroadcastNestedLoopJoin" in p
    if name == "decontamination_overlap":
        # the benchmark gram set is the small side: it must broadcast so
        # the corpus text never shuffles
        assert "BroadcastHashJoin" in p


def test_tpch_join_shapes(spark):
    """The TPC-H-shaped queries must compile to the 100 TB plans their
    docstrings promise: dims broadcast, date windows push to the scans,
    the global top-10 is a TakeOrdered (never a full sort)."""
    p = _plan(spark, QUERIES["shipping_priority"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p  # filtered customer dim
    assert "TakeOrderedAndProject" in p, "global top-10 must not full-sort"
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any("LessThan(o_orderdate" in ln for ln in pushed), pushed
    assert any("GreaterThan(l_shipdate" in ln for ln in pushed), pushed
    p = _plan(spark, QUERIES["regional_revenue"](spark, SF_DIR))
    # supplier (+co-nation condition) and region->nation both broadcast;
    # only the fact-side equi-joins may shuffle
    assert p.count("BroadcastHashJoin") >= 3, p[:2000]
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln for ln in pushed), pushed


def test_sketch_plan_discipline(spark):
    """The sketch queries' scale contracts, at the plan level: HLL register
    maxes and CMS bucket counts must combine map-side (the sketch-merge
    property is exactly the partial aggregate), the CMS exact top-20 must
    be a TakeOrdered (per-partition heaps, never a global sort), and
    lm_quality's one-row V aggregate must broadcast, never cartesian."""
    simple = _plan(spark, QUERIES["hll_distinct"](spark, SF_DIR), "simple")
    ex = simple.index("Exchange")
    assert "partial_max" in simple[ex:], "HLL register merge not map-side"
    p = _plan(spark, QUERIES["cms_heavy_hitters"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p, "exact top-20 must not full-sort"
    simple = _plan(spark, QUERIES["cms_heavy_hitters"](spark, SF_DIR), "simple")
    ex = simple.index("Exchange")
    assert "partial_count" in simple[ex:], "CMS bucket counts not map-side"
    p = _plan(spark, QUERIES["lm_quality"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p, "one-row V must broadcast"


def test_asof_join_single_exchange_no_join(spark):
    """The as-of join must compile to ONE user-keyed exchange feeding a
    window -- never a join operator at all (the naive inequality self-join
    degenerates to broadcast-nested-loop/cartesian, the exact failure mode
    this composition exists to avoid)."""
    p = _plan(spark, QUERIES["asof_join_events"](spark, SF_DIR), "simple")
    assert p.count("Exchange") == 1, p
    assert "Join" not in p, "as-of must not plan a join"


def test_range_join_is_equi_hash(spark):
    """The bucketized range join must plan as a hash EQUI-join on
    (user, bucket) -- never the nested-loop/cartesian the naive inequality
    join produces; the band predicate prunes inside the join."""
    p = _plan(spark, QUERIES["range_join_events"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert ("BroadcastHashJoin" in p) or ("ShuffledHashJoin" in p), p[:1500]


def test_rollup_single_scan_expand(spark):
    """The hierarchical rollup must feed all four grouping-set levels from
    ONE scan via Expand + a map-side-combined aggregation -- never a union
    of per-level scans."""
    p = _plan(spark, QUERIES["events_rollup_hierarchy"](spark, SF_DIR), "simple")
    assert "Expand" in p, "rollup must use grouping-set Expand"
    assert "Union" not in p, "rollup must not union per-level scans"
    assert "partial_count" in p[p.index("Exchange"):], "no map-side combine"


def test_scan_column_pruning(spark):
    """Scans read ONLY the referenced columns: a projection of 2 columns
    must not drag the rest of the row through the parquet reader."""
    p = _plan(spark, QUERIES["token_counts"](spark, SF_DIR))
    scan = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scan and "doc_id" in scan[0] and "text" in scan[0]
    assert "lang" not in scan[0] and "n_chars" not in scan[0]
    p = _plan(spark, QUERIES["agg_lineitem"](spark, SF_DIR))
    scan = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scan and "l_orderkey" not in scan[0] and "l_shipdate" not in scan[0]


def test_filter_pushdown_reaches_scan(spark):
    """A filter on a scan column must appear in the parquet PushedFilters,
    not as a post-scan Filter node only."""
    p = _plan(spark, QUERIES["embedding_topk"](spark, SF_DIR))
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any("LessThan(vec_id,10)" in ln for ln in pushed), pushed


def test_join_strategy_discipline(spark):
    """True dimension joins broadcast; the LSH band self-join and the
    a-side verify feature join are pinned to shuffled-hash (no sort of
    wide array rows; an unconditional broadcast of a corpus-sized side is
    a driver-serial collect -- the measured r1 scaling floor, BENCH_NOTES
    #4). r6: the B-SIDE verify feature join broadcasts when the feature
    table fits verify.BROADCAST_MAX_ROWS/_BYTES (guide-§8: the wide
    pair+sh_a intermediate then never crosses an exchange; r6 resumed
    session: BOTH feature sides broadcast under the gate, so the
    candidates stream never shuffles); at sf0.001 the bound is met, so
    BroadcastHashJoins are expected for the feature joins."""
    p = _plan(spark, QUERIES["broadcast_dim_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    p = _plan(spark, QUERIES["near_dup_pairs"](spark, SF_DIR))
    assert "ShuffledHashJoin" in p  # band stats join stays shuffled-hash
    assert "BroadcastHashJoin" in p  # size-gated feature joins
    assert "SortMergeJoin" not in p


def test_verify_broadcast_gate_disables(spark, monkeypatch):
    """Over the broadcast row bound, the verify feature join must fall back
    to the two pinned SHUFFLE_HASH joins -- the production shape for
    corpora whose feature table cannot ship to every executor."""
    from pyspark.sql import functions as F

    from lsh_for_source_code_spark.entry_queries import (
        FLAGSHIP_CFG,
        lsh_verified_pairs,
    )
    from lsh_for_source_code_spark.operators import verify

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") % 5 == 0
    )
    monkeypatch.setattr(verify, "BROADCAST_MAX_ROWS", 0)
    p = _plan(spark, lsh_verified_pairs(docs, FLAGSHIP_CFG, 0.9))
    assert "BroadcastHashJoin" not in p
    assert "ShuffledHashJoin" in p


def test_delta_path_scans_no_driver_rdd(spark):
    """The delta path (candidate_pairs without `signed`, and the whole
    incremental_update) must scan no driver-side RDD in its executed plan.
    An empty createDataFrame unioned in for the skipped mega refinement is
    a parallelized Python RDD: one Python-worker task per partition on
    every evaluation, for zero rows."""
    from pyspark.sql import functions as F

    from lsh_for_source_code_spark.caching import release_all
    from lsh_for_source_code_spark.entry_queries import FLAGSHIP_CFG, _docs_as_files
    from lsh_for_source_code_spark.functions.minhash import sign_files
    from lsh_for_source_code_spark.operators.banding import band_files
    from lsh_for_source_code_spark.operators.candidates import candidate_pairs
    from lsh_for_source_code_spark.plans.pipeline import shingle_stage
    from lsh_for_source_code_spark.streaming.incremental import incremental_update

    cfg = FLAGSHIP_CFG
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") % 5 == 0
    )
    base = shingle_stage(_docs_as_files(docs.filter(F.col("doc_id") % 10 == 5)), cfg)
    bands = band_files(sign_files(base, cfg), cfg)
    delta = _docs_as_files(docs.filter(F.col("doc_id") % 10 == 0))
    for df in (
        candidate_pairs(bands, cfg),
        incremental_update(delta, base, bands, cfg)["verified_new_pairs"],
    ):
        df.collect()
        p = _plan(spark, df)
        assert "isFinalPlan=true" in p
        assert "ExistingRDD" not in p, p
    release_all()


def test_partial_aggregation_before_exchange(spark):
    """groupBy aggregates must map-side combine (partial_*) below the
    exchange -- the difference between shuffling rows and shuffling
    groups at 100 TB."""
    p = _plan(spark, QUERIES["agg_lineitem"](spark, SF_DIR), "simple")
    ex = p.index("Exchange")
    assert "partial_sum" in p[ex:], "no map-side combine below the exchange"
    # the 16-bit-sum simhash aggregation must combine map-side too: its
    # input is one row per winnowed fingerprint, its output one per doc
    p = _plan(spark, QUERIES["simhash_winnow"](spark, SF_DIR), "simple")
    ex = p.index("Exchange")
    assert "partial_sum" in p[ex:], "simhash_winnow shuffles raw fp rows"


def test_sessionize_single_shuffle(spark):
    """sessionize_events chains two windows and a groupBy, all keyed on
    user_id: Catalyst must reuse ONE hash exchange for the whole chain --
    a second shuffle would double the query's network cost for nothing."""
    p = _plan(spark, QUERIES["sessionize_events"](spark, SF_DIR), "simple")
    assert p.count("Exchange hashpartitioning") == 1, p[:1500]


def test_hot_aggregation_stays_in_codegen(spark):
    """After execution (AQE final plan), the aggregation pipeline must
    carry whole-stage-codegen stages -- no interpreted gaps in the hot
    path."""
    df = QUERIES["agg_lineitem"](spark, SF_DIR)
    df.collect()
    p = _plan(spark, df)
    assert "isFinalPlan=true" in p
    assert "codegen id" in p

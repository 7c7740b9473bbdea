"""Candidate generation stage S5: the one shuffle that skew threatens.

Reference counterpart: out-of-repo stage B's pair generation
(SURVEY.md 2.4) -- all pairs of files sharing an LSH bucket. Naively that is
a self-join on the band key, O(k^2) per bucket: fatal at 10^12 files when a
boilerplate band holds millions of members (the reference itself exhibits a
300-file mega group in its golden output, SURVEY.md 4.3).

Strategy here:

* buckets with 2..max_bucket_pairs members: exact all-pairs via self-join on
  (band_id, band_hash). Per-key cost capped at max_bucket_pairs^2.
* mega buckets (> max_bucket_pairs): random chunked topology -- members land
  in ~mega_chunk_target-sized random chunks (exact all-pairs inside each) and
  chunk minima connect to the bucket's min-id anchor. Linear in bucket size
  (sz * C/2 pairs), preserves pre-verify connectivity of the whole bucket,
  and gives every member C-1 exact comparisons so post-verify cluster recall
  survives buckets full of borderline-theta members (measured: pure star lost
  15% of cross-boilerplate truth pairs at 20k). Exact dups are already out of
  band via the content_sha short-circuit.
* bucket occupancy (reference O14, Main.java:117-119) doubles as the skew
  monitor. Occupancy aggregations are single-level groupBys: hash
  aggregation's map-side combine already caps any hot key's reducer input
  at #map-partitions partial rows (r6; the former explicit salt level was
  a redundant extra exchange).

All aggregations here (count/min) have map-side partial aggregation, so even
the hot key costs one reducer O(k) -- never O(k^2).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, functions as F

from lsh_for_source_code_spark.caching import track
from lsh_for_source_code_spark.config import PipelineConfig

BAND_KEY = ["band_id", "band_hash"]


def _pair_expand(groups: DataFrame, members_col: str = "ms") -> DataFrame:
    """(.., ms: array<long>) -> exploded (id_a, id_b) with id_a < id_b,
    entirely via JVM higher-order functions (r6).

    Replaces the bucket all-pairs SELF-JOINS: the member lists are BOUNDED
    (<= max_bucket_pairs for buckets, ~mega_chunk_target for chunks, by
    the filters that feed them), so collect_list is safe, and because each
    feeding aggregation groups by a superset of the upstream join/exchange
    key, the groupBy rides the existing hash partitioning -- no new
    Exchange, no second hash-table build+probe over the full row stream.
    Measured at 200k/local[32] (OPTIMIZATION_r06.md "S5 candidates: HOF
    pair expansion", identical output by checksum): S5 24.4-45.3s ->
    19.4-21.3s."""
    pairs = F.flatten(
        F.transform(
            members_col,
            lambda x: F.transform(
                F.filter(members_col, lambda y: y > x),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return groups.select(F.explode(pairs).alias("p")).select(
        F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b")
    )


def bucket_stats(bands: DataFrame) -> DataFrame:
    """(band_id, band_hash, sz, anchor) -- occupancy + min-id per bucket."""
    return bands.groupBy(*BAND_KEY).agg(
        F.count("*").alias("sz"), F.min("file_id").alias("anchor")
    )


def bucket_occupancy(bands: DataFrame, top_k: int = 100) -> DataFrame:
    """Skew report: the descendant of the reference's bucket-count trailer."""
    return (
        bands.groupBy(*BAND_KEY)
        .count()
        .orderBy(F.desc("count"), *BAND_KEY)
        .limit(top_k)
    )


def candidate_pairs(
    bands: DataFrame, cfg: PipelineConfig, signed: DataFrame | None = None
) -> DataFrame:
    """(id_a, id_b, n_shared_bands) with id_a < id_b.

    `signed` (optional, (file_id, minhash)) enables similarity-preserving
    refinement of mega buckets (cfg.mega_refine_levels) before the chunked
    fallback -- see _refine_mega below. Without it (the delta path) the
    refinement is left out of the plan, not unioned in as an empty frame:
    an empty driver-side frame is a parallelized Python RDD, one
    Python-worker task per partition on every evaluation.

    Bucket size + anchor come from ONE groupBy with map-side partial
    aggregation (r6: the explicit salted two-level variant was measured
    and removed -- hash aggregation already partial-aggregates per map
    partition, so a 10^8-member boilerplate band reaches its reducer as
    <= #map-partitions partial rows, never 10^8; the salt level only added
    a second full exchange of the ~O(corpus x bands) stats stream. A/B at
    200k/local[32]: salted 2.3-3.8s vs direct 1.0-2.0s per stats pass,
    identical output, end-to-end S5 37.8s -> 33.0s with all three salted
    aggregations removed -- OPTIMIZATION_r06.md).

    The stats join back onto bands routes the hot key to one reducer but is
    linear and AQE skew-split eligible. The tagged table is persisted
    because two consumers read it (the small-bucket pair expansion + the
    mega/star path) -- without the cache Catalyst re-evaluates the whole
    upstream per consumer.

    The final groupBy both deduplicates pairs discovered in multiple bands
    and records how many bands agreed (a cheap confidence signal)."""
    stats = bucket_stats(bands)
    # SHUFFLE_HASH pinned on both bucket-key joins: these sides are LARGE
    # intermediates (O(corpus) rows) -- letting Catalyst broadcast them is a
    # driver-serial collect+build (the r1 scaling floor), and sort-merge
    # would sort O(corpus) rows for keys that hash-join fine. Per-partition
    # hash builds are parallel and bounded by the band-key partitioning.
    tagged = track(bands.join(stats.hint("shuffle_hash"), on=BAND_KEY).persist())

    small = tagged.filter(
        (F.col("sz") >= 2) & (F.col("sz") <= cfg.max_bucket_pairs)
    ).select(*BAND_KEY, "file_id")
    # bounded all-pairs via collect_list + HOF expansion (r6, _pair_expand):
    # `tagged` is already hash-partitioned on BAND_KEY (output of the stats
    # join), so this groupBy adds NO exchange, where the former self-join
    # paid a hash build+probe over the full small-bucket row stream.
    pairs_small = _pair_expand(
        small.groupBy(*BAND_KEY).agg(F.collect_list("file_id").alias("ms"))
    )

    # Mega buckets: random chunked topology (bounded, linear in bucket size).
    # Chunk key = hash(band_key, file_id) mod ceil(sz / C): every member
    # lands in a ~C-sized random chunk, chunks emit exact all-pairs, and the
    # per-chunk minimum connects to the bucket anchor so pre-verify
    # connectivity of the whole bucket is preserved. Each member gets C-1
    # exact comparisons per mega band instead of a single anchor edge --
    # for borderline-theta members whose anchor edge passes verify w.p. p,
    # the per-member connection miss rate drops from (1-p) to (1-p)^C,
    # which is what moves the measured cluster recall
    # (see config.mega_chunk_target). The chunk hash includes the band key,
    # so different bands chunk the same members differently -- diversity
    # across bands compounds the recall. Measured at 20k, C=16: band-diverse
    # keys reach family-stratum recall 0.9936 at 23.7s vs 0.9893 at 22.2s
    # for band-independent keys (which dedup better but give each member
    # the SAME partners in every band) -- diversity wins at equal cost.
    mega = tagged.filter(F.col("sz") > cfg.max_bucket_pairs).select(
        "band_id",
        F.col("band_hash").alias("_key"),
        "file_id",
        "sz",
        "anchor",
    )
    levels = int(cfg.mega_refine_levels) if signed is not None else 0
    if levels > 0:
        refined_exact, mega = _refine_mega(mega, signed, cfg, levels)
        pairs_small = pairs_small.unionByName(refined_exact)
    pairs_mega = _chunked_mega_pairs(mega, cfg)

    # The final groupBy deduplicates pairs found in several bands (or at
    # several refinement levels) and counts the emissions per pair.
    return (
        pairs_small.unionByName(pairs_mega)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared_bands"))
    )


def _refine_mega(
    mega: DataFrame, signed: DataFrame, cfg: PipelineConfig, levels: int
) -> tuple[DataFrame, DataFrame]:
    """Similarity-preserving mega-bucket refinement (the scale defense
    against JUNK buckets -- see config.mega_refine_levels).

    Each level extends the bucket key with one more MinHash perm (the rows
    following this band's own, mod num_perm) and re-measures occupancy with
    the same single-level partial-aggregated occupancy pass. Sub-buckets that fall to
    2..max_bucket_pairs members emit exact all-pairs immediately; buckets
    still mega continue to the next level. The split is self-selecting:
    members agreeing only by accident (a globally common token's min) have
    diverse extension perms and scatter, while genuinely cohesive groups
    (boilerplate families sharing most tokens) share extension minima too
    and survive intact to the chunked fallback -- which is exactly where
    chunk partners are similar enough for anchor/chunk edges to verify.

    Returns (refined_exact_pairs(id_a, id_b), residual_mega rows with
    columns (band_id, _key, file_id, sz, anchor)).
    """
    r, p = cfg.rows_per_band, cfg.num_perm
    C = int(cfg.mega_chunk_target)
    cap = int(cfg.max_bucket_pairs)
    # ONE-PASS over all levels (a per-level loop of stats+join+self-join was
    # measured ~40s slower at 200k): the cumulative keys k_1..k_L are pure
    # expressions over the signature array, so one join attaches them all,
    # posexplode yields (level, key) rows, and a single stats pass +
    # a single bounded HOF pair expansion handle every level together.
    keys = []
    k = F.col("_key")
    for l in range(levels):
        k = F.xxhash64(
            k,
            F.element_at(
                "minhash",
                ((F.col("band_id") * r + F.lit(r + l)) % p + 1).cast("int"),
            ),
        )
        keys.append(k)
    KEY = ["_lvl", "band_id", "_k"]
    work = (
        mega.select("band_id", "_key", "file_id")
        .join(signed.select("file_id", "minhash").hint("shuffle_hash"), "file_id")
        .select(
            "band_id",
            "file_id",
            F.posexplode(F.array(*keys)).alias("_lvl", "_k"),
        )
        # repartition on KEY before the persist (r6 resumed session): the
        # occupancy groupBy AND the key join below then both ride the
        # cached hash partitioning instead of each re-exchanging the full
        # exploded stream -- the refine path's exchanges drop 3 -> 1.
        # KEY ends in the refined hash _k, so partitioning is high-entropy
        # even when one source band is a 10^8-member junk bucket.
        .repartition(*KEY)
    )
    # persisted: the occupancy stats and the key join below both read this
    # exploded table; uncached, Catalyst re-evaluates the signed join per
    # consumer.
    work = track(work.persist())
    # Occupancy stats: single-level groupBy (r6) -- map-side partial
    # aggregation already bounds any hot key's reducer input at
    # #map-partitions rows; the former explicit salt level cost one extra
    # full exchange of the exploded stream for no skew benefit. st is NOT
    # persisted: the union key table below is its only consumer.
    st = work.groupBy(*KEY).agg(
        F.count("*").alias("sz"), F.min("file_id").alias("anchor")
    )
    # Emission policy: sub-buckets <= C emit exact all-pairs at EVERY level
    # (a bucket already small at level l re-emits subdivided at l+1 -- the
    # duplicates collapse in the final pair groupBy); at the LAST level the
    # threshold relaxes to max_bucket_pairs, catching agreeing pairs whose
    # bucket landed in (C, cap] -- few junk buckets survive `levels` splits,
    # so the extra all-pairs stay cheap while borderline recall (type2-like
    # pairs) keeps most of the emit-at-cap quality. Measured at 200k: emit-
    # at-C-only lost type2 recall 0.94 -> 0.86; emit-at-cap at every level
    # cost 21.4M deduped candidates and 113s of verify.
    # Rather than tagging EVERY work row with its bucket stats (a full-width
    # join of the exploded table, the r3 S5 scaling floor), work joins only
    # the interesting keys -- and emit + residual keys ride ONE union key
    # table through ONE join (OPTIMIZATION_r06.md "S5 refine: union key table":
    # the former separate emit/residual joins each re-shuffled the work
    # stream; with the union join + KEY-repartitioned persist the refine
    # wall halved, 11.0-15.6s -> 5.8-10.4s at 200k, outputs identical by
    # checksum). The residual predicate excludes emit_f explicitly, so the
    # two sets are disjoint by construction and one boolean splits the join
    # output.
    # The all-pairs emission itself is collect_list + HOF expansion riding
    # the join's KEY partitioning (_pair_expand; member lists bounded by
    # `cap`); the joined table is persisted because the emit and residual
    # branches are two consumers.
    emit_f = (F.col("sz") >= 2) & (
        (F.col("sz") <= C) | ((F.col("_lvl") >= 1) & (F.col("sz") <= cap))
    )
    res_f = (F.col("_lvl") == levels - 1) & (F.col("sz") > cap) & ~emit_f
    keys_tbl = st.filter(emit_f | res_f).select(
        *KEY, "sz", "anchor", emit_f.alias("_emit")
    )
    joined = track(work.join(keys_tbl.hint("shuffle_hash"), on=KEY).persist())
    exact = _pair_expand(
        joined.filter("_emit")
        .groupBy(*KEY)
        .agg(F.collect_list("file_id").alias("ms"))
    )
    residual = joined.filter(~F.col("_emit")).select(
        "band_id", F.col("_k").alias("_key"), "file_id", "sz", "anchor"
    )
    return exact, residual


def _chunked_mega_pairs(mega: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Mega-bucket fallback of both candidate channels: random ~C-sized
    chunks emit exact all-pairs + chunk-min -> anchor edges. Input columns
    (band_id, _key, file_id, sz, anchor); the SimHash channel passes its
    (table_id, key) as (band_id, _key)."""
    n_chunks = F.greatest(
        F.ceil(F.col("sz") / F.lit(int(cfg.mega_chunk_target))).cast("long"),
        F.lit(1).cast("long"),
    )
    mega_c = mega.withColumn(
        "_chunk", F.pmod(F.xxhash64("band_id", "_key", "file_id"), n_chunks)
    ).select("band_id", "_key", "_chunk", "file_id", "anchor")
    # ONE aggregation yields both the bounded member lists (chunk all-pairs
    # via _pair_expand, lists ~C long by the chunk key) and the
    # chunk-min/anchor columns for the connectivity edges; persisted because
    # both consumers read it, and the former shape (self-join + separate min
    # aggregation) recomputed the residual's filter+join chain three times
    # (r6: ~4s of pure recompute at 200k).
    chunk_groups = track(
        mega_c.groupBy("band_id", "_key", "_chunk")
        .agg(
            F.collect_list("file_id").alias("ms"),
            F.min("file_id").alias("_cmin"),
            F.min("anchor").alias("_anchor"),
        )
        .persist()
    )
    chunk_pairs = _pair_expand(chunk_groups)
    anchor_edges = chunk_groups.filter(
        F.col("_cmin") != F.col("_anchor")
    ).select(F.col("_anchor").alias("id_a"), F.col("_cmin").alias("id_b"))
    return chunk_pairs.unionByName(anchor_edges)


def _sim_self_join(df: DataFrame, keys: list[str]) -> DataFrame:
    """All (id_a < id_b) pairs sharing `keys`, carrying both fingerprints.
    Kept as a SHUFFLE_HASH self-join: the HOF pair expansion was rejected
    for SimHash because a 1024-member key makes ~12 MB pair arrays per row
    in the worst case (OPTIMIZATION_r06.md)."""
    l, r = df.alias("l"), df.alias("r").hint("shuffle_hash")
    return l.join(
        r,
        on=[F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
        + [F.col("l.file_id") < F.col("r.file_id")],
    ).select(
        F.col("l.file_id").alias("id_a"),
        F.col("r.file_id").alias("id_b"),
        F.col("l.simhash").alias("sim_a"),
        F.col("r.simhash").alias("sim_b"),
    )


def simhash_candidate_pairs(signed: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Second recall channel (north_star): (id_a, id_b, hamming) for pairs
    whose 64-bit SimHash fingerprints differ in <= t = hamming_max bits.

    Block tables (Manku et al., WWW'07): the fingerprint splits into m =
    cfg.simhash_table_blocks (default t + 1) equal blocks, and one table is
    keyed on every (m - t)-block combination. Pigeonhole: <= t differing
    bits touch <= t blocks, so every true pair agrees exactly on at least
    one table's key -- a groupBy-on-key self-join, never a cross join. A
    single-block combination keys on the block value itself (m = t + 1:
    the classic 4x16-bit design); a wider one keys on xxhash64(table, blocks).
    Key entropy is (m - t) * bits / m, so larger m keeps buckets of
    UNRELATED fingerprints below simhash_max_block at corpus sizes where
    16-bit keys (~n/2^16 members each) degenerate into the mega-chunk
    lottery (demonstrated at test scale in test_operators.py). Cost is
    C(m, t) key rows per doc instead of t + 1.

    Skew defense (VERDICT r1 wrong#2), as in candidate_pairs: occupancy +
    anchor come from one map-side-combined aggregation, keys with <=
    cfg.simhash_max_block members emit exact all-pairs, mega keys go
    through the same chunked fallback (_chunked_mega_pairs; r2 ADVICE: each
    member gets C-1 direct comparisons plus a chunk-min -> anchor
    connectivity edge). All emitted pairs pass the hamming filter, so the
    output contract (hamming <= t) holds on every path."""
    t = cfg.simhash_hamming_max
    m = cfg.simhash_table_blocks or t + 1
    width = cfg.simhash_bits // m
    blocks = [
        F.col("simhash")
        if width == 64
        else F.shiftrightunsigned("simhash", i * width).bitwiseAND(
            F.lit((1 << width) - 1)
        )
        for i in range(m)
    ]
    keys = [
        blocks[combo[0]]
        if len(combo) == 1
        else F.xxhash64(F.lit(ci), *[blocks[b] for b in combo])
        for ci, combo in enumerate(combinations(range(m), m - t))
    ]
    df = signed
    if "degenerate" in df.columns:
        df = df.filter(~F.col("degenerate"))
    KEY = ["table_id", "key"]
    rows = df.select(
        "file_id", "simhash", F.posexplode(F.array(*keys)).alias(*KEY)
    )
    # single-level occupancy stats (r6): partial aggregation bounds hot
    # keys at #map-partitions reducer rows; see candidate_pairs.
    stats = rows.groupBy(*KEY).agg(
        F.count("*").alias("sz"), F.min("file_id").alias("anchor")
    )
    tagged = track(rows.join(stats.hint("shuffle_hash"), on=KEY).persist())

    pairs_small = _sim_self_join(
        tagged.filter(
            (F.col("sz") >= 2) & (F.col("sz") <= cfg.simhash_max_block)
        ).select(*KEY, "file_id", "simhash"),
        KEY,
    )

    # mega keys: the chunked fallback candidate_pairs uses, then both
    # fingerprints joined onto the emitted (linear-size) pair set.
    pairs_mega = _chunked_mega_pairs(
        tagged.filter(F.col("sz") > cfg.simhash_max_block).select(
            F.col("table_id").alias("band_id"),
            F.col("key").alias("_key"),
            "file_id",
            "sz",
            "anchor",
        ),
        cfg,
    )
    fp = df.select("file_id", "simhash")
    for side in ("a", "b"):
        pairs_mega = pairs_mega.join(
            fp.select(
                F.col("file_id").alias(f"id_{side}"),
                F.col("simhash").alias(f"sim_{side}"),
            ),
            f"id_{side}",
        )
    return (
        pairs_small.unionByName(pairs_mega)
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= t)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )

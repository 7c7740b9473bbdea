#!/usr/bin/env python3
"""r06 S5 refine experiment (resumed session): cut the work-stream
exchanges inside _refine_mega.

Decomposition (OPTIMIZATION_r06.md) pinned refine at ~18s of the
~38s S5 stage. The persisted `work` table (mega members x levels) crosses
THREE exchanges: st stats groupBy, the emit join, the residual join.

Variants (identical outputs asserted: exact-pair count + xxhash64
checksum, residual count + checksum):
  cur    -- repo HEAD _refine_mega
  uj     -- ONE union key table (emit|residual flags from st) joined to
            work once; branches split post-join (3 exchanges -> 2); st
            becomes single-consumer (persist dropped)
  ujrep  -- uj + work repartition(*KEY) before persist: st groupBy and
            the key join both ride the cached partitioning (-> 1 exchange)
"""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark import StorageLevel
from pyspark.sql import functions as F

from bench import _corpus_parquet, _warm_jvm, _bench_cfg, make_spark
from lsh_for_source_code_spark.caching import track, release_all
from lsh_for_source_code_spark.functions.minhash import sign_files
from lsh_for_source_code_spark.functions.tokenize import shingle_files
from lsh_for_source_code_spark.operators.banding import band_files
from lsh_for_source_code_spark.operators.candidates import (
    BAND_KEY,
    _pair_expand,
    _refine_mega,
    bucket_stats,
)
from lsh_for_source_code_spark.plans.pipeline import with_file_id

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("REPS", "3"))
VARIANTS = sys.argv[1:] or ["cur", "uj", "ujrep"]


def refine_uj(mega, signed, cfg, levels, repart: bool):
    r, p = cfg.rows_per_band, cfg.num_perm
    C = max(int(cfg.mega_chunk_target), 2)
    cap = int(cfg.max_bucket_pairs)
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
    work = (
        mega.select("band_id", "_key", "file_id")
        .join(signed.select("file_id", "minhash").hint("shuffle_hash"), "file_id")
        .select(
            "band_id",
            "file_id",
            F.posexplode(F.array(*keys)).alias("_lvl", "_k"),
        )
    )
    KEY = ["_lvl", "band_id", "_k"]
    if repart:
        work = work.repartition(*KEY)
    work = track(work.persist())
    st = work.groupBy(*KEY).agg(
        F.count("*").alias("sz"), F.min("file_id").alias("anchor")
    )
    emit_f = (F.col("sz") >= 2) & (
        (F.col("sz") <= C) | ((F.col("_lvl") >= 1) & (F.col("sz") <= cap))
    )
    res_f = (F.col("_lvl") == levels - 1) & (F.col("sz") > cap)
    keys_tbl = st.filter(emit_f | res_f).select(
        *KEY, "sz", "anchor", emit_f.alias("_emit")
    )
    joined = track(
        work.join(keys_tbl.hint("shuffle_hash"), on=KEY).persist()
    )
    exact = _pair_expand(
        joined.filter("_emit")
        .groupBy(*KEY)
        .agg(F.collect_list("file_id").alias("ms"))
    )
    residual = joined.filter(~F.col("_emit")).select(
        "band_id", F.col("_k").alias("_key"), "file_id", "sz", "anchor"
    )
    return exact, residual


def main():
    spark = make_spark(CPUS)
    cfg = _bench_cfg()
    _warm_jvm(spark)
    df = spark.read.parquet(_corpus_parquet(spark))
    ids = with_file_id(df, check_collisions=False)
    shingled = (
        shingle_files(ids, k=cfg.shingle_k, min_freq=cfg.min_token_freq)
        .select("file_id", "content_sha", "n_tokens", "shingles", "counts")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sha_groups = shingled.groupBy("content_sha").agg(
        F.min("file_id").alias("rep_id")
    )
    reps = shingled.join(
        sha_groups.select(F.col("rep_id").alias("file_id")), "file_id"
    )
    signed = sign_files(reps, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    bands = band_files(signed, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    shingled.count()
    signed.count()
    print("bands:", bands.count(), flush=True)
    stats = bucket_stats(bands)
    tagged = bands.join(stats.hint("shuffle_hash"), on=BAND_KEY).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    tagged.count()
    mega = tagged.filter(F.col("sz") > cfg.max_bucket_pairs).select(
        "band_id", F.col("band_hash").alias("_key"), "file_id", "sz", "anchor"
    )
    levels = int(cfg.mega_refine_levels)

    results = {}
    for rep in range(REPS):
        for v in VARIANTS:
            spark.sparkContext.setJobDescription(f"refine2:{v}")
            t0 = time.monotonic()
            if v == "cur":
                exact, residual = _refine_mega(mega, signed, cfg, levels)
            else:
                exact, residual = refine_uj(
                    mega, signed, cfg, levels, repart=(v == "ujrep")
                )
            er = exact.agg(
                F.count("*").alias("n"),
                F.sum(F.xxhash64("id_a", "id_b")).alias("chk"),
            ).first()
            rr = residual.agg(
                F.count("*").alias("n"),
                F.sum(F.xxhash64("band_id", "_key", "file_id", "sz", "anchor")).alias(
                    "chk"
                ),
            ).first()
            w = round(time.monotonic() - t0, 2)
            results.setdefault(v, []).append(w)
            print(
                f"rep{rep} {v}: {w}s exact n={er.n} chk={er.chk} "
                f"res n={rr.n} chk={rr.chk}",
                flush=True,
            )
            release_all()
    print("RESULT", results)


if __name__ == "__main__":
    main()

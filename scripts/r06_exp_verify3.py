#!/usr/bin/env python3
"""r06 S6 experiment (resumed session): a-side broadcast reuse.

Current production shape (size-gated): join 1 (a-side features)
SHUFFLE_HASH, join 2 (b-side features) broadcast. Hypothesis: when the
gate already pays one driver-side broadcast build of the feature table,
broadcasting the a-side too is FREE (Spark reuses the canonically
identical BroadcastExchange) and removes the remaining exchange of the
candidates stream + feature table by id_a.

Variants (real verify_pairs, prefix filter active, identical output
asserted by count + xxhash64 checksum + jaccard sum):
  prod   -- bcast_b only (current)
  bcast2 -- both sides broadcast
Interleaved reps, same process.
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
from lsh_for_source_code_spark.functions.minhash import sign_files
from lsh_for_source_code_spark.functions.tokenize import shingle_files
from lsh_for_source_code_spark.operators.banding import band_files
from lsh_for_source_code_spark.operators.candidates import candidate_pairs
import lsh_for_source_code_spark.operators.verify as V
from lsh_for_source_code_spark.plans.pipeline import with_file_id

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("REPS", "3"))


def build_inputs(spark, cfg):
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
    bands = band_files(signed, cfg)
    cands = candidate_pairs(bands, cfg, signed=signed).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    shingled.count()
    signed.count()
    n = cands.count()
    print(f"candidates: {n}", flush=True)
    return shingled, signed, cands


ORIG_JPF = V.join_pair_features


def jpf_bcast2(candidates, shingled, id_col="file_id", with_counts=True,
               broadcast_b=False):
    cols = [F.col(id_col).alias("fid"), F.col("shingles")]
    if with_counts:
        cols += [F.col("counts"), F.col("n_tokens")]
    feat = shingled.select(*cols)

    def side(suffix, id_name):
        sel = [F.col("fid").alias(id_name), F.col("shingles").alias(f"sh_{suffix}")]
        if with_counts:
            sel += [
                F.col("counts").alias(f"cn_{suffix}"),
                F.col("n_tokens").alias(f"nt_{suffix}"),
            ]
        return feat.select(*sel)

    if not broadcast_b:
        return ORIG_JPF(candidates, shingled, id_col, with_counts, broadcast_b)
    return candidates.join(F.broadcast(side("a", "id_a")), "id_a").join(
        F.broadcast(side("b", "id_b")), "id_b"
    )


def main():
    spark = make_spark(CPUS)
    cfg = _bench_cfg()
    _warm_jvm(spark)
    shingled, signed, cands = build_inputs(spark, cfg)
    results = {}
    for rep in range(REPS):
        for v in ("prod", "bcast2"):
            V.join_pair_features = ORIG_JPF if v == "prod" else jpf_bcast2
            spark.sparkContext.setJobDescription(f"verify3:{v}")
            t0 = time.monotonic()
            out = V.verify_pairs(cands, shingled, cfg)
            row = out.agg(
                F.count("*").alias("n"),
                F.sum(F.xxhash64("id_a", "id_b")).alias("chk"),
                F.sum("jaccard").alias("js"),
            ).first()
            w = round(time.monotonic() - t0, 2)
            results.setdefault(v, []).append(w)
            print(f"rep{rep} {v}: {w}s n={row.n} chk={row.chk} js={row.js}",
                  flush=True)
    print("RESULT", results)


if __name__ == "__main__":
    main()

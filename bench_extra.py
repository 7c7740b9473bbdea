#!/usr/bin/env python3
"""Round-6 optimization measurement harness (guide §1: measure first).

NOT part of the frozen driver contract (bench.py is the graded harness);
this file exists so individual queries / pipeline stages can be isolated,
timed with the noop sink, and their formatted plans captured without
touching bench.py.

Usage:
    python bench_extra.py queries [name ...]   # time queries 3x + plans
    python bench_extra.py plans [name ...]     # only dump plans (fast)
    python bench_extra.py pipeline             # stage-attributed pipeline
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PLAN_DIR = os.path.join(REPO, "plans", "r06")
PLAN_TAG = os.environ.get("SPARK_GRAFT_PLAN_TAG", "before")


def make_spark():
    from bench import make_spark as mk

    return mk(CPUS)


def _plan_text(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def time_queries(names: list[str], with_plans: bool = True):
    spark = make_spark()
    import __spark_entry__ as entry_mod

    from lsh_for_source_code_spark.caching import release_all

    qs = entry_mod.queries()
    os.makedirs(PLAN_DIR, exist_ok=True)
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"r06: {name}")
        walls = []
        for i in range(3):
            t0 = time.monotonic()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            walls.append(round(time.monotonic() - t0, 3))
            release_all()
        if with_plans:
            df = qs[name](spark, SF_DIR)
            with open(os.path.join(PLAN_DIR, f"{name}_{PLAN_TAG}.txt"), "w") as f:
                f.write(_plan_text(df))
            release_all()
        out[name] = walls
        print(f"WALLS {name} {walls}", flush=True)
    print("RESULT " + json.dumps(out))


def dump_plans(names: list[str]):
    spark = make_spark()
    import __spark_entry__ as entry_mod

    from lsh_for_source_code_spark.caching import release_all

    qs = entry_mod.queries()
    os.makedirs(PLAN_DIR, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        with open(os.path.join(PLAN_DIR, f"{name}_{PLAN_TAG}.txt"), "w") as f:
            f.write(_plan_text(df))
        release_all()
        print(f"PLAN {name} written", flush=True)


def pipeline_stages():
    """Stage-attributed S1..S7 pipeline wall at the bench corpus/config:
    the exact run_pipeline stage graph (refinement INCLUDED -- unlike
    scripts/profile_pipeline.py, which omits signed=), with each stage
    persisted and forced via count so the attribution is honest."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from bench import _corpus_parquet, _warm_jvm, _bench_cfg
    from lsh_for_source_code_spark.caching import release_all
    from lsh_for_source_code_spark.functions.minhash import sign_files
    from lsh_for_source_code_spark.functions.tokenize import shingle_files
    from lsh_for_source_code_spark.operators.banding import band_files
    from lsh_for_source_code_spark.operators.candidates import candidate_pairs
    from lsh_for_source_code_spark.operators.components import (
        connected_components,
    )
    from lsh_for_source_code_spark.operators.verify import verify_pairs
    from lsh_for_source_code_spark.plans.pipeline import with_file_id

    spark = make_spark()
    path = _corpus_parquet(spark)
    df = spark.read.parquet(path)
    cfg = _bench_cfg()
    _warm_jvm(spark)
    phases = {}
    t_all = time.monotonic()

    def timed(name, fn):
        spark.sparkContext.setJobDescription(f"r06 pipeline: {name}")
        t0 = time.monotonic()
        r = fn()
        phases[name] = round(time.monotonic() - t0, 2)
        print(f"  {name}: {phases[name]}s", flush=True)
        return r

    ids = timed("S0_id_audit", lambda: with_file_id(df, check_collisions=True))
    shingled = (
        shingle_files(ids, k=cfg.shingle_k, min_freq=cfg.min_token_freq)
        .select("file_id", "content_sha", "n_tokens", "shingles", "counts")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    timed("S1_shingle", shingled.count)
    sha_groups = shingled.groupBy("content_sha").agg(
        F.min("file_id").alias("rep_id"), F.count("*").alias("sha_count")
    )
    membership = shingled.select("file_id", "content_sha").join(
        sha_groups, "content_sha"
    )
    exact_edges = (
        membership.filter(F.col("file_id") != F.col("rep_id"))
        .select(F.col("rep_id").alias("id_a"), F.col("file_id").alias("id_b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    timed("S2_exact_edges", exact_edges.count)
    reps = shingled.join(
        sha_groups.select(F.col("rep_id").alias("file_id")), "file_id"
    )
    signed = sign_files(reps, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    timed("S3_sign", signed.count)
    bands = band_files(signed, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    timed("S4_bands", bands.count)
    cands = candidate_pairs(bands, cfg, signed=signed).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    timed("S5_candidates", cands.count)
    verified = verify_pairs(cands, shingled, cfg).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    timed("S6_verify", verified.count)
    edges = verified.select("id_a", "id_b").unionByName(
        exact_edges.select("id_a", "id_b")
    )
    clusters = timed(
        "S7a_cc_build",
        lambda: connected_components(edges, nodes=shingled.select("file_id")),
    )
    timed(
        "S7b_clusters_count",
        lambda: clusters.select("cluster_id").distinct().count(),
    )
    phases["total"] = round(time.monotonic() - t_all, 2)
    release_all()
    print("RESULT " + json.dumps(phases))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    names = sys.argv[2:]
    if mode == "pipeline":
        pipeline_stages()
    elif mode == "plans":
        dump_plans(names)
    else:
        if not names:
            from bench import HEADLINE

            names = HEADLINE
        time_queries(names)

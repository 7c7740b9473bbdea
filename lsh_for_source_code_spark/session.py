"""SparkSession factory tuned for the dedup pipeline.

local[N] in the sandbox; the same settings (AQE, Arrow, shuffle sizing) are
what we would ship to a 1000-executor cluster via spark-submit --py-files.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from lsh_for_source_code_spark.shipping import ensure_shipped, export_pythonpath

# spark.sql.codegen.cache.maxEntries; sized where get_spark sets it
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "lsh-for-source-code-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    export_pythonpath()  # before the gateway starts: local workers inherit it
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing, skew-join splitting (the verify join),
        # broadcast conversion -- all load-bearing at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Band/pair rows are narrow (tens of bytes) but downstream work per
        # row is heavy (self-joins, window sorts, array intersections). The
        # default 64 MB advisory size makes AQE coalesce those shuffles to
        # 1-2 partitions and serialize the heavy stages (measured: candidate
        # stage 17.5s -> 8.3s at local[32] with proper parallelism). 8 MB
        # keeps post-shuffle parallelism while still merging tiny partitions.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow everywhere: every Python boundary is a vectorized pandas UDF.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # local mode: driver == the one executor. Heap sized to the WORKING
        # SET, not the box: r2 A/B at identical parallelism measured 8g
        # beating 32g by 1.4x wall at local[8] AND local[32] (smaller young
        # gen keeps the GC-touched heap cache-resident; 32g young-gen
        # sweeps stream DRAM). Overridable for real cluster deployments.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Round-2 lesson (BENCH.md r1 -> r2): a 256 MB global broadcast
        # threshold made Catalyst broadcast multi-million-row INTERMEDIATES
        # (the whole bands table in candidate_pairs' stats join and the
        # small-bucket self-join side) -- every such broadcast is a
        # DRIVER-SERIAL collect + hash build, exactly the Amdahl floor that
        # capped N->4N efficiency at 0.395. Keep the threshold modest (true
        # dimension tables only); the joins where sorting wide rows hurts
        # pin SHUFFLE_HASH explicitly (parallel per-partition builds).
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # ANSI off: we rely on permissive casts in a few hash expressions.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        # Generated-class cache. Spark keys compiled classes by their source
        # in an LRU of 100 entries by default, but one operation needs more:
        # ~150 distinct classes per delta_update or batch_mixed operation,
        # ~450 per query-roster pass. An LRU cycled over more keys than it
        # holds never hits, so every repeat re-ran Janino on every stage and
        # then ran cold, un-JITted classes. One session running run_pipeline,
        # incremental_update, the perfbench query roster and all 66 declared
        # queries compiles 1,169 distinct classes (local[4]); 4096 leaves
        # 3.5x headroom. The conf is static: it applies only when this call
        # starts the session, not to a session that already runs.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # By default a class's source also names its whole-stage codegen
        # stage id. AQE numbers the stages it re-plans as their inputs
        # finish, so a repeat of the same plan could get new ids and miss
        # the cache (30-44 classes per repeated small delta at local[8]).
        # Names only; no output changes.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    # Throughput-oriented GC: this is a batch engine with high allocation
    # rates; JDK17's default G1 runs concurrent cycles that contend with all
    # N worker threads (measured at local[32]: 167s -> 87s wall for the
    # same 200k-file pipeline when switching to ParallelGC).
    # Cap GC threads at the task parallelism: local[N] on a 32-core host
    # otherwise gets 32 GC threads regardless of N, so GC wall-time is
    # constant across parallelism levels and reads as a serial floor in
    # the N->4N scaling measurement. A real N-core executor has ~N GC
    # threads; emulate that faithfully.
    n_gc = None
    if master.startswith("local[") and master[6:-1].isdigit():
        n_gc = max(2, int(master[6:-1]))
    gc_opts = "-XX:+UseParallelGC" + (f" -XX:ParallelGCThreads={n_gc}" if n_gc else "")
    builder = builder.config("spark.driver.extraJavaOptions", gc_opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_shipped(spark)  # cluster mode / pre-existing JVM: addPyFile zip
    return spark

"""End-to-end dedup pipeline S1..S7 with resumable parquet checkpoints.

Stage graph (SURVEY.md 7.1); each stage is a pure DataFrame -> DataFrame
function so Catalyst sees one declarative plan per stage. In production the
checkpoint store is an Iceberg catalog (snapshot-diff resume); the sandbox
has no Iceberg runtime jars, so `CheckpointStore` is a parquet-directory
implementation of the same contract (atomic via _SUCCESS markers, stage
skipped when already materialized).

Exact-dup short-circuit (S2): only one representative per content_sha is
signed/banded/verified -- guarantees Type-1 recall 1.0 (the reference's 100%
CSV is exactly sha-equal pairs) and collapses boilerplate mega groups before
they ever reach the LSH shuffle.
"""

from __future__ import annotations

import os
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from lsh_for_source_code_spark.config import PipelineConfig
from lsh_for_source_code_spark.functions.minhash import sign_files
from lsh_for_source_code_spark.functions.tokenize import shingle_files
from lsh_for_source_code_spark.operators.banding import band_files
from lsh_for_source_code_spark.operators.candidates import candidate_pairs
from lsh_for_source_code_spark.operators.components import connected_components
from lsh_for_source_code_spark.operators.verify import add_lcs_containment, verify_pairs


class CheckpointStore:
    """Parquet-directory checkpoint store (Iceberg stand-in, same contract).

    With a root, every computed stage also writes a per-partition lineage
    fingerprint (`<stage>__partitions`: partition_id, rows, bytes_est) and
    records an event in the run's `RunMetrics` ledger (north_rule:
    per-partition lineage + metrics)."""

    def __init__(self, spark: SparkSession, root: str | None, metrics=None):
        from lsh_for_source_code_spark.plans.metrics import RunMetrics

        self.spark = spark
        self.root = root
        self.metrics = metrics or RunMetrics()
        self.log: list[dict] = []

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def has(self, name: str) -> bool:
        return bool(self.root) and os.path.exists(
            os.path.join(self._path(name), "_SUCCESS")
        )

    def materialize(self, name: str, df: DataFrame, _unused=None) -> DataFrame:
        """Write-once + read-back; stage output becomes a scan (lineage cut,
        resume point). Without a root, stages are persisted instead so
        multi-consumer stages (shingled feeds S2 + the verify join; verified
        feeds the cluster edges and metrics) compute once, not per action.

        `_unused` keeps the 4-argument call of perfbench's traced wrapper
        (perfbench/workloads.py) working; nothing reads it."""
        if not self.root:
            from lsh_for_source_code_spark.caching import track

            return track(df.persist(StorageLevel.MEMORY_AND_DISK))
        if self.has(name):
            self.log.append({"stage": name, "action": "resumed", "wall_s": 0.0})
            self.metrics.record(name, "resumed")
            return self.spark.read.parquet(self._path(name))
        from lsh_for_source_code_spark.plans.metrics import partition_stats

        t0 = time.monotonic()
        df.write.mode("overwrite").parquet(self._path(name))
        out = self.spark.read.parquet(self._path(name))
        partition_stats(out).write.mode("overwrite").parquet(
            self._path(name + "__partitions")
        )
        rows = int(
            self.spark.read.parquet(self._path(name + "__partitions"))
            .groupBy()
            .sum("rows")
            .first()[0]
            or 0
        )
        wall = time.monotonic() - t0
        self.log.append({"stage": name, "action": "computed", "wall_s": wall})
        self.metrics.record(name, "computed", rows=rows, wall_s=round(wall, 3))
        return out

    def finish(self):
        if self.root:
            self.metrics.write(self.spark, self.root)


def with_file_id(
    code_files: DataFrame,
    check_collisions: bool = False,
    id_expr=None,
) -> DataFrame:
    """Stable 64-bit id from the natural key (input_hint columns).

    64-bit ids birthday-collide with near certainty at ~2^32 distinct keys
    (ADVICE r1); a production run at 10^12 files must either switch to a
    128-bit key (sha2 split into two longs) or run the collision audit:
    `check_collisions=True` compares count(distinct natural key) against
    count(distinct file_id) in ONE aggregate job and raises on mismatch.
    The audit scans only the three key columns (columnar pruning -- content
    never moves), so its cost is a small fraction of any real run;
    `run_pipeline` always runs it. The key is counted as one struct: a
    multi-column countDistinct skips every row with a null key column,
    while xxhash64 still gives those rows ids.

    `id_expr` overrides the id column (tests force collisions with it; a
    128-bit-per-half strategy would pass e.g. one sha2 half here)."""
    out = code_files.withColumn(
        "file_id",
        F.xxhash64("repo", "path", "commit") if id_expr is None else id_expr,
    )
    if check_collisions:
        row = out.agg(
            F.countDistinct(F.struct("repo", "path", "commit")).alias("nk"),
            F.countDistinct("file_id").alias("ni"),
        ).first()
        if row.nk != row.ni:
            raise RuntimeError(
                f"file_id collision: {row.nk} natural keys -> {row.ni} ids; "
                "switch to a 128-bit id for this corpus"
            )
    return out


def shingle_stage(files: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """S1: (file_id, content_sha, n_tokens, shingles, counts) per file.
    `content` is dropped here -- at 100 TB it dominates bytes, and nothing
    downstream reads it except the containment channel (which re-joins a
    tiny pair set). A caller that never reads `content_sha` drops it before
    persisting; the projection is pruned, so the sha is never computed."""
    return shingle_files(files, k=cfg.shingle_k, min_freq=cfg.min_token_freq).select(
        "file_id", "content_sha", "n_tokens", "shingles", "counts"
    )


def lsh_stages(
    signed: DataFrame,
    features: DataFrame,
    cfg: PipelineConfig,
    keep=lambda name, df: df,
):
    """S4 band -> S5 candidates -> S6 verify; returns (bands, candidates,
    verified). Each stage's output passes through `keep(name, df)`:
    `run_pipeline` passes `CheckpointStore.materialize`, the declared
    queries pass nothing and their plans stay lazy."""
    bands = keep("bands", band_files(signed, cfg))
    cands = keep("candidate_pairs", candidate_pairs(bands, cfg, signed=signed))
    verified = keep("verified_pairs", verify_pairs(cands, features, cfg))
    return bands, cands, verified


def containment_pairs(
    cands: DataFrame, features: DataFrame, files: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """LCS containment channel: the candidates below both the jaccard and
    the overlap bar, re-joined to `files.content` and kept where their LCS
    containment reaches cfg.containment_threshold."""
    loose = verify_pairs(cands, features, cfg, keep_all=True).filter(
        F.col("jaccard") < cfg.jaccard_threshold
    )
    if cfg.overlap_threshold is not None:
        loose = loose.filter(F.col("overlap") < cfg.overlap_threshold)
    return add_lcs_containment(
        loose, files, min_containment=cfg.containment_threshold
    ).filter(F.col("lcs_containment") >= cfg.containment_threshold)


def run_pipeline(
    spark: SparkSession,
    code_files: DataFrame,
    cfg: PipelineConfig,
    checkpoint_dir: str | None = None,
    with_containment: bool = False,
) -> dict[str, DataFrame]:
    from lsh_for_source_code_spark.plans.metrics import RunMetrics

    store = CheckpointStore(
        spark, checkpoint_dir, metrics=RunMetrics(config_id=cfg.config_id)
    )

    ids = with_file_id(code_files, check_collisions=True)

    # S1: shingle + sha.
    shingled = store.materialize("files_shingled", shingle_stage(ids, cfg))

    # S2: exact-dup short-circuit. reps carry min(file_id) per content_sha.
    sha_groups = shingled.groupBy("content_sha").agg(
        F.min("file_id").alias("rep_id"), F.count("*").alias("sha_count")
    )
    membership = shingled.select("file_id", "content_sha").join(
        sha_groups, "content_sha"
    )
    exact_edges = store.materialize(
        "exact_dup_edges",
        membership.filter(F.col("file_id") != F.col("rep_id")).select(
            F.col("rep_id").alias("id_a"), F.col("file_id").alias("id_b")
        ),
    )
    reps = shingled.join(
        sha_groups.select(F.col("rep_id").alias("file_id")), "file_id"
    )

    # S3: signatures for distinct contents only.
    signed = store.materialize("signatures", sign_files(reps, cfg))

    # S4/S5/S6: banding, skew-capped candidates, exact verification.
    bands, cands, verified = lsh_stages(signed, shingled, cfg, keep=store.materialize)
    if with_containment:
        contain = containment_pairs(cands, shingled, ids, cfg)
        verified = verified.unionByName(
            contain.select("id_a", "id_b", "jaccard", "overlap", "n_shared_bands"),
            allowMissingColumns=True,
        )

    # S7: clusters over verified similarity edges + exact-dup edges, covering
    # every file (singletons included).
    edges = verified.select("id_a", "id_b").unionByName(
        exact_edges.select("id_a", "id_b")
    )
    clusters = store.materialize(
        "clusters",
        connected_components(edges, nodes=shingled.select("file_id")),
    )
    store.finish()

    return {
        "files_shingled": shingled,
        "exact_dup_edges": exact_edges,
        "signatures": signed,
        "bands": bands,
        "candidate_pairs": cands,
        "verified_pairs": verified,
        "clusters": clusters,
        "_store": store,
    }

"""Banding stage S4: signature -> (file_id, band_id, band_hash) rows.

Reference counterpart: LSH.hashSignature (LSH.java:47-64) -- splits the
signature into `stages` bands and hashes each. Here each band hash is a
proper tuple hash -- xxhash64 over (band_id, band slice), entirely JVM-side
inside whole-stage codegen (no Python). The reference's additive band hash
lives in functions/parity.py (reference_band_hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lsh_for_source_code_spark.config import PipelineConfig


def band_hashes_col(cfg: PipelineConfig, minhash_col: str = "minhash"):
    """array<long> column: band_hashes[b] = xxhash64(b, sig[b*r : (b+1)*r])."""
    r = cfg.rows_per_band
    return F.transform(
        F.sequence(F.lit(0), F.lit(cfg.bands - 1)),
        lambda b: F.xxhash64(b, F.slice(minhash_col, b * F.lit(r) + 1, r)),
    )


def band_files(signed: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Explode per-file band hashes into the LSH key table
    (file_id, band_id, band_hash). Degenerate rows (empty shingle sets) are
    excluded -- they would otherwise all collide into one mega bucket (the
    reference's 300-file group, SURVEY.md 4.3); they cluster by content_sha
    instead."""
    df = signed
    if "degenerate" in df.columns:
        df = df.filter(~F.col("degenerate"))
    return df.select(
        "file_id",
        F.posexplode(band_hashes_col(cfg)).alias("band_id", "band_hash"),
    )

"""Incremental corpus growth (reference entry 2: one-vector binning for
incremental use, LSHMinHash.java:103-105 -- generalized to batch deltas).

The production design is Iceberg snapshot-diff: sign only files not present
in the signatures checkpoint (left-anti join on file_id), then restrict
candidate generation to buckets touched by the delta. Structured Streaming
is deliberately NOT used for the core pipeline (SURVEY.md 2.5: the reference
is strictly batch; incremental re-runs are snapshot arithmetic, which is
cheaper and exactly-once by construction). A Structured Streaming ingest
example is provided for completeness of the API surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from lsh_for_source_code_spark.caching import track
from lsh_for_source_code_spark.config import PipelineConfig
from lsh_for_source_code_spark.functions.minhash import sign_files
from lsh_for_source_code_spark.operators.banding import band_files
from lsh_for_source_code_spark.operators.candidates import BAND_KEY, candidate_pairs
from lsh_for_source_code_spark.operators.verify import verify_pairs
from lsh_for_source_code_spark.plans.pipeline import shingle_stage, with_file_id


def delta_files(new_batch: DataFrame, known_signatures: DataFrame) -> DataFrame:
    """Files in the incoming batch not yet signed (resume/skip semantics:
    left-anti against the checkpoint, SURVEY.md 2.5 'Joins')."""
    return new_batch.join(
        known_signatures.select("file_id"), "file_id", "left_anti"
    )


def incremental_update(
    new_batch: DataFrame,
    known_shingled: DataFrame,
    known_bands: DataFrame,
    cfg: PipelineConfig,
) -> dict[str, DataFrame]:
    """Sign + band only the delta; generate candidates only in buckets the
    delta touches (semi-join pushdown on the band key); verify delta pairs.

    Returns the new stage rows to append plus the verified pairs involving
    at least one new file. At 10^12-file scale this is the difference
    between re-shuffling the world and shuffling the day's commits.

    Preconditions: `known_shingled` holds one row per `file_id` (it is the
    base's S1 table), and `known_bands` are the bands of those files. Only
    the delta side of the verify feature table is deduplicated: the delta
    is left-anti-joined against the base, so the two are disjoint and the
    base table is scanned, never reshuffled.

    The delta's shingles (S1), signatures (S3) and bands (S4) are persisted
    (released by `caching.release_all`): each has several consumers -- the
    touched-bucket keys, the band union, the `new_ids` semi-joins, the
    verify broadcast probe and feature sides, and a caller appending both
    signatures and bands to its checkpoint tables -- and uncached every
    consumer re-runs the shingle and signature Python UDFs.

    S5 is the delta's own, not `plans.pipeline.lsh_stages`: touched buckets
    only, no `signed` (no mega refinement), pairs with a delta endpoint.
    """
    delta = delta_files(new_batch, known_shingled)
    d_shingled = track(shingle_stage(delta, cfg).persist())
    d_signed = track(sign_files(d_shingled, cfg).persist())
    d_bands = track(band_files(d_signed, cfg).persist())

    touched = d_bands.select(*BAND_KEY).distinct()
    relevant_old = known_bands.join(touched, BAND_KEY, "left_semi")
    all_bands = relevant_old.unionByName(d_bands)

    cands = candidate_pairs(all_bands, cfg)
    new_ids = d_shingled.select("file_id")
    cands_new = (
        cands.join(new_ids.withColumnRenamed("file_id", "id_a"), "id_a", "left_semi")
        .unionByName(
            cands.join(
                new_ids.withColumnRenamed("file_id", "id_b"), "id_b", "left_semi"
            )
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    features = known_shingled.unionByName(d_shingled.dropDuplicates(["file_id"]))
    verified = verify_pairs(cands_new, features, cfg)
    return {
        "delta_shingled": d_shingled,
        "delta_signatures": d_signed,
        "delta_bands": d_bands,
        "verified_new_pairs": verified,
    }


def streaming_ingest(spark, input_path: str, checkpoint: str, cfg: PipelineConfig):
    """Structured Streaming ingest of code_files batches (API-surface demo:
    file source -> shingle+sign (the same vectorized UDFs work on streaming
    DataFrames) -> append sink). Candidate generation stays in the batch
    layer (incremental_update) because LSH self-joins across the full corpus
    are not a streaming-state-friendly operator."""
    stream = (
        spark.readStream.schema(
            "repo string, path string, commit string, lang string, content string"
        )
        .parquet(input_path)
    )
    signed = sign_files(shingle_stage(with_file_id(stream), cfg), cfg)
    return (
        signed.writeStream.format("parquet")
        .option("checkpointLocation", checkpoint)
        .option("path", checkpoint + "_out")
        .trigger(availableNow=True)
    )

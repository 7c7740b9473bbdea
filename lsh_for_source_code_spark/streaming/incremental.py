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

from pyspark.sql import DataFrame, functions as F

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


def streaming_event_rollup(
    spark,
    input_path: str,
    checkpoint: str,
    window_duration: str = "1 hour",
    watermark: str = "1 hour",
):
    """Watermarked tumbling-window aggregation over an event stream
    (SURVEY.md 2.5 streaming category: windowed aggs + late-data handling).

    readStream(events) -> withWatermark(ts) -> window(ts) x event_type ->
    count/avg -> append sink. Append mode emits a window only once the
    watermark passes its end, and rows later than the watermark are dropped
    -- the exactly-once rollup shape for the events table at 100 TB (state
    store holds only open windows; watermark bounds state size).

    Returns the DataStreamWriter (caller picks trigger/path); tests drive it
    with trigger(availableNow=True) across two batches to observe both
    window finalization and late-row dropping.
    """
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .parquet(input_path)
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .option("path", checkpoint + "_out")
        .trigger(availableNow=True)
    )


def streaming_sessionize(
    spark,
    input_path: str,
    checkpoint: str,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
):
    """Custom stateful streaming operator (SURVEY.md 2.5 streaming category):
    per-user sessionization with applyInPandasWithState.

    State per user_id: (session_start, last_ts, n_events, sum_value). A new
    event more than `gap_minutes` after the last one closes the session and
    emits it; event-time timeout (watermark + gap) closes idle sessions.
    This is the applyInPandasWithState shape for any custom per-key state
    machine (the engine's stand-in for operators Spark lacks natively).

    Gap rule is EXACT MICROSECONDS (r4s3) -- bit-identical semantics to the
    oracle-checked batch twin `entry_queries.q_sessionize_events`, which a
    test asserts; the earlier millisecond truncation could disagree with
    the batch rule for gaps within 1ms of the threshold.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", IntegerType()),
            StructField("sum_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("last_us", LongType()),
            StructField("n", IntegerType()),
            StructField("sv", DoubleType()),
        ]
    )
    gap_us = gap_minutes * 60_000_000

    def sessionize(key, pdfs, state: GroupState):
        (user_id,) = key
        sessions = []
        if state.hasTimedOut:
            start_us, last_us, n, sv = state.get
            sessions.append((user_id, start_us, last_us, n, sv))
            state.remove()
        else:
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows.sort_values("ts")
            ts_us = (rows["ts"].astype("int64") // 1_000).to_numpy()
            vals = rows["value"].to_numpy()
            if state.exists:
                start_us, last_us, n, sv = state.get
            else:
                start_us, last_us, n, sv = int(ts_us[0]), int(ts_us[0]) - 1, 0, 0.0
            for t, v in zip(ts_us, vals):
                t = int(t)
                if n > 0 and t - last_us > gap_us:
                    sessions.append((user_id, start_us, last_us, n, sv))
                    start_us, n, sv = t, 0, 0.0
                if n == 0:
                    start_us = t
                last_us, n, sv = t, n + 1, sv + float(v)
            state.update((start_us, last_us, n, sv))
            # timeout API takes epoch MILLIS; round up so it never fires
            # a microsecond early
            state.setTimeoutTimestamp(-(-(last_us + gap_us) // 1000))
        if not sessions:
            yield pd.DataFrame(
                columns=["user_id", "session_start", "session_end", "n_events", "sum_value"]
            )
        else:
            df = pd.DataFrame(
                sessions,
                columns=["user_id", "session_start", "session_end", "n_events", "sum_value"],
            )
            df["session_start"] = pd.to_datetime(df["session_start"], unit="us")
            df["session_end"] = pd.to_datetime(df["session_end"], unit="us")
            yield df

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .parquet(input_path)
    )
    sessions = (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return (
        sessions.writeStream.format("parquet")
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .option("path", checkpoint + "_out")
        .trigger(availableNow=True)
    )


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

"""Signature stage S3: MinHash-128 + SimHash-64 as one batched pandas UDF.

Reference counterpart: MinHash.signature (MinHash.java:195-226) -- a scalar
per-document loop. Here the whole Arrow batch is one numpy broadcast +
segmented min (functions/hashing.py). Coefficients are derived from the
config seed and broadcast implicitly via UDF closure (the reference's seeded
constructor MinHash.java:153-155 made the same guarantee per-process; ours
holds across executors).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

from lsh_for_source_code_spark.config import PipelineConfig
from lsh_for_source_code_spark.functions.hashing import (
    minhash_coefficients,
    minhash_concat,
    simhash_concat,
)

SIGNATURE_SCHEMA = StructType(
    [
        StructField("minhash", ArrayType(LongType()), False),
        StructField("simhash", LongType(), False),
    ]
)


def _concat_arrays(series: pd.Series, dtype):
    """Series of arrays -> (concat ndarray, offsets ndarray). Vectorized."""
    lens = np.fromiter((0 if a is None else len(a) for a in series), dtype=np.int64, count=len(series))
    offsets = np.zeros(len(series) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    if offsets[-1] == 0:
        return np.empty(0, dtype=dtype), offsets
    concat = np.concatenate([np.asarray(a) for a in series if a is not None and len(a)])
    return concat.astype(dtype, copy=False), offsets


def make_signature_udf(cfg: PipelineConfig):
    a, b = minhash_coefficients(cfg.num_perm, cfg.seed)
    bits = cfg.simhash_bits

    @pandas_udf(SIGNATURE_SCHEMA)
    def signature(shingles: pd.Series, counts: pd.Series) -> pd.DataFrame:
        concat, offsets = _concat_arrays(shingles, np.int64)
        cnts, _ = _concat_arrays(counts, np.int64)
        sigs = minhash_concat(concat.view(np.uint64), offsets, a, b)  # (n, perm) u64
        sims = simhash_concat(concat.view(np.uint64), cnts, offsets, bits)
        sig_i64 = sigs.astype(np.int64)  # values < 2^61 => exact
        n = len(shingles)
        return pd.DataFrame(
            {"minhash": [sig_i64[i] for i in range(n)], "simhash": sims}
        )

    return signature


def sign_files(df, cfg: PipelineConfig):
    """S3: attach minhash + simhash columns. Drops nothing -- callers prune.

    Skew note (SURVEY.md 4.3): rows with empty shingle sets would all share
    the degenerate all-EMPTY_SIG signature (the reference's 300-file mega
    group). We tag them (`degenerate`) so candidate generation can exclude
    them; they are clustered by content_sha instead.
    """
    udf = make_signature_udf(cfg)
    return (
        df.withColumn("_sig", udf(F.col("shingles"), F.col("counts")))
        .withColumn("minhash", F.col("_sig.minhash"))
        .withColumn("simhash", F.col("_sig.simhash"))
        .withColumn("degenerate", F.size("shingles") == 0)
        .drop("_sig")
    )


def signature_agreement(col_a, col_b):
    """Estimated jaccard: fraction of agreeing signature positions
    (reference MinHash.similarity, MinHash.java:237-251) -- JVM-side
    zip_with/aggregate, used as a cheap pre-verify filter."""
    agree = F.aggregate(
        F.zip_with(col_a, col_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return agree.cast("double") / F.size(col_a).cast("double")

"""Output checks: order-independent checksums and the recorded golden values.

A checksum is `(rows, sum of xxhash64(row) mod 2^64)`. Addition commutes, so
the value does not depend on row order or partitioning; floating-point
columns are rounded to 6 places first so a last-ulp difference in
summation order cannot change it.

`expected.json` maps workload -> seed -> operation key -> output name ->
[rows, checksum], as recorded with `run.py --record` at the commit that
defined the benchmark.
A seed with no entry is checked for agreement between the operations of
the run and against the workload's own invariants only.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, FloatType

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
_MOD = 2**64


def checksum_expr(df: DataFrame):
    cols = [
        F.round(F.col(f"`{f.name}`"), 6) if isinstance(f.dataType, (DoubleType, FloatType))
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    return F.xxhash64(*cols).cast("decimal(38,0)")


def checksum(df: DataFrame) -> list[int]:
    """[rows, order-independent checksum] of `df`, in one Spark job."""
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(checksum_expr(df)).alias("s")).first()
    return [int(row["n"]), int(row["s"] or 0) % _MOD]


def load_expected() -> dict:
    if not os.path.exists(EXPECTED_PATH):
        return {}
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def save_expected(table: dict) -> None:
    with open(EXPECTED_PATH, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")


def compare(got: dict, want: dict | None) -> list[str]:
    """Mismatches between an operation's outputs and their golden values."""
    if want is None:
        return []
    return [
        f"{name}: got {got.get(name)}, expected {value}"
        for name, value in want.items()
        if name in got and list(got[name]) != list(value)
    ]

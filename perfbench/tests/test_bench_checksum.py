"""Output checksums do not depend on row order or partitioning."""

import pytest
from pyspark.sql import SparkSession

from checks import checksum, compare


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
    )
    yield s
    s.stop()


ROWS = [(i, -i * 7919, f"f{i}", i / 3.0) for i in range(50)]


def test_checksum_is_order_and_partition_independent(spark):
    cols = ["id_a", "id_b", "name", "jaccard"]
    df = spark.createDataFrame(ROWS, cols)
    shuffled = spark.createDataFrame(list(reversed(ROWS)), cols).repartition(5)
    assert checksum(df) == checksum(shuffled)
    assert checksum(df)[0] == len(ROWS)


def test_checksum_sees_changed_rows(spark):
    cols = ["id_a", "id_b", "name", "jaccard"]
    base = checksum(spark.createDataFrame(ROWS, cols))
    changed = checksum(spark.createDataFrame(ROWS[:-1] + [(49, 0, "f49", 49 / 3.0)], cols))
    assert changed[0] == base[0] and changed[1] != base[1]
    assert checksum(spark.createDataFrame(ROWS[:-1], cols))[0] == len(ROWS) - 1


def test_checksum_ignores_last_ulp_float_noise(spark):
    a = spark.createDataFrame([(1, 0.1 + 0.2)], ["k", "x"])
    b = spark.createDataFrame([(1, 0.3)], ["k", "x"])
    assert checksum(a) == checksum(b)


def test_compare_reports_only_mismatches():
    got = {"a": [1, 2], "b": [3, 4]}
    assert compare(got, None) == []
    assert compare(got, {"a": [1, 2], "b": [3, 4]}) == []
    assert compare(got, {"a": [1, 2], "b": [3, 5]}) == ["b: got [3, 4], expected [3, 5]"]

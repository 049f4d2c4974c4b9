"""global_row_number: the distributed numbering must equal the
single-partition global window it replaces, and the plan must not
contain a partition-less WindowExec."""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from whale_sightings_spark.operators.ordinal import global_row_number


@pytest.fixture(scope="module")
def df(spark):
    # keys deliberately unsorted, multiple input partitions, skewed values
    rows = [(i * 7919 % 1000, f"p{i}") for i in range(1000)]
    return spark.createDataFrame(rows, "k int, payload string").repartition(16)


def test_matches_global_window(spark, df):
    expected = {
        r["k"]: r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(W.orderBy("k"))
        ).collect()
    }
    got = {r["k"]: r["row_num"] for r in global_row_number(df, ["k"]).collect()}
    assert got == expected


def test_dense_and_deterministic(spark, df):
    a = global_row_number(df, ["k"], num_partitions=8).collect()
    nums = sorted(r["row_num"] for r in a)
    assert nums == list(range(1, 1001))
    b = global_row_number(df, ["k"], num_partitions=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_no_single_partition_window(df):
    plan = global_row_number(df, ["k"])._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_rerun_after_source_rewrite_numbers_new_rows(spark, tmp_path):
    """Numbering a re-read of a file rewritten in place (outside Spark,
    so no cache refresh) must see the new rows: the materialization
    shared by the count and enumeration passes must not leave a cache
    entry that a later plan over the same path matches."""
    path = tmp_path / "src.json"

    def numbered():
        df = spark.read.schema("k int").json(str(path))
        return sorted(tuple(r) for r in global_row_number(df, ["k"]).collect())

    path.write_text('{"k": 5}\n{"k": 6}\n')
    assert numbered() == [(5, 1), (6, 2)]
    path.write_text('{"k": 9}\n')
    assert numbered() == [(9, 1)]

"""functions/sketch: the multi-rank percentile helper keeps one value
per requested rank, including on degenerate input."""

from __future__ import annotations

from sow_pyspark_scripts_spark.functions.sketch import approx_pctls


def test_approx_pctls_all_null_column_gives_one_null_per_rank(spark):
    ps = (0.1, 0.5, 0.9)
    df = spark.createDataFrame([(None,), (None,)], "x double")
    (row,) = df.agg(approx_pctls("x", ps).alias("q")).collect()
    assert row["q"] == [None] * len(ps)


def test_approx_pctls_empty_input_gives_one_null_per_rank(spark):
    ps = (0.25, 0.75)
    df = spark.createDataFrame([], "x double")
    (row,) = df.agg(approx_pctls("x", ps).alias("q")).collect()
    assert row["q"] == [None] * len(ps)


def test_approx_pctls_values_unchanged_on_data(spark):
    df = spark.createDataFrame([(float(v),) for v in range(1, 11)], "x double")
    (row,) = df.agg(approx_pctls("x", (0.1, 0.5, 0.9)).alias("q")).collect()
    assert row["q"] == [1.0, 5.0, 9.0]

"""Regression: window-backed map conditions (increasing/decreasing) must
work with the violations sink and include_unexpected_rows — a window
function cannot appear in a WHERE clause, so every filter on the condition
has to project the flag first (runner.map_violations / _map_result)."""

from __future__ import annotations

from pyspark.sql import functions as F

from great_expectations_spark import ExpectationSuite, SuiteRunner


def _df(spark):
    rows = [
        ("c1", 0), ("c1", 1), ("c1", 1),  # tie → strictly-increasing violation
        ("c2", 0), ("c2", 2), ("c2", 1),  # out of order
    ]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int")


def test_window_map_with_violations_sink(spark, tmp_path):
    vp = str(tmp_path / "viol")
    suite = ExpectationSuite("s")
    suite.add("expect_column_values_to_be_increasing", column="turn_idx",
              strictly=True, partition_by="conv_id", order_by="turn_idx")
    res = SuiteRunner(
        spark, unexpected_index_column_names=["conv_id", "turn_idx"],
        violations_path=vp,
    ).validate(_df(spark), suite)
    r = res.results[0]
    assert r.exception_info.get("raised_exception") in (False, None), r.exception_info
    assert not r.success
    # order_by=turn_idx sorts (c2,1) before (c2,2) → only the c1 tie violates
    assert r.result["unexpected_count"] == 1

    viol = spark.read.parquet(vp)
    assert viol.count() == 1
    row = viol.collect()[0]
    assert (row.conv_id, row.turn_idx) == ("c1", 1)
    assert row.expectation == "expect_column_values_to_be_increasing"


def test_window_map_include_unexpected_rows(spark):
    suite = ExpectationSuite("s")
    suite.add("expect_column_values_to_be_increasing", column="turn_idx",
              strictly=True, partition_by="conv_id", order_by="turn_idx",
              result_format={"result_format": "COMPLETE",
                             "include_unexpected_rows": True})
    res = SuiteRunner(
        spark, unexpected_index_column_names=["conv_id", "turn_idx"]
    ).validate(_df(spark), suite)
    r = res.results[0]
    assert r.exception_info.get("raised_exception") in (False, None), r.exception_info
    rows = r.result["unexpected_rows"]
    assert len(rows) == 1 and rows[0]["conv_id"] == "c1"
    assert "__unexpected" not in rows[0]

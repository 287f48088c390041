"""Validator semantics parity with the reference DataValidator
(transform.py:51-118), executed as one fused aggregate pass."""

from __future__ import annotations

from aws_datalake_platform_spark.validation import DataValidator


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "sensor_id string, temperature_c double, battery_level double"
    )


def test_not_null_counts(spark):
    df = _df(spark, [("a", 1.0, 50.0), (None, 2.0, 60.0), ("c", None, 70.0)])
    res = (
        DataValidator(df, "t")
        .expect_column_values_to_not_be_null("sensor_id")
        .expect_column_values_to_not_be_null("temperature_c")
        .validate()
    )
    r0, r1 = res["results"]
    assert not r0["success"] and r0["details"]["null_count"] == 1
    assert not r1["success"] and r1["details"]["null_count"] == 1
    assert r0["details"]["total_count"] == 3
    assert not res["success"]


def test_between_ignores_nulls(spark):
    # reference predicate (col < min) | (col > max): NULL is neither,
    # so nulls never count as out-of-range (transform.py:80-82)
    df = _df(spark, [("a", -60.0, 1.0), ("b", None, 2.0), ("c", 10.0, 3.0)])
    res = DataValidator(df, "t").expect_column_values_to_be_between("temperature_c", -50.0, 60.0).validate()
    d = res["results"][0]["details"]
    assert d["out_of_range_count"] == 1
    assert not res["success"]


def test_row_count_and_success_summary(spark):
    df = _df(spark, [("a", 1.0, 50.0)])
    res = (
        DataValidator(df, "t")
        .expect_table_row_count_to_be_greater_than(0)
        .expect_column_values_to_not_be_null("sensor_id")
        .validate()
    )
    assert res["success"]
    assert res["expectations_evaluated"] == 2
    assert res["expectations_passed"] == 2
    assert res["expectations_failed"] == 0
    assert res["dataset"] == "t"


def test_row_count_fails_on_empty(spark):
    df = _df(spark, []).limit(0)
    res = DataValidator(df, "t").expect_table_row_count_to_be_greater_than(0).validate()
    assert not res["success"]
    assert res["results"][0]["details"]["row_count"] == 0


def test_of_type_check(spark):
    df = _df(spark, [("a", 1.0, 2.0)])
    res = (
        DataValidator(df, "t")
        .expect_column_values_to_be_of_type("sensor_id", "string")
        .expect_column_values_to_be_of_type("temperature_c", "string")
        .validate()
    )
    assert res["results"][0]["success"]
    assert not res["results"][1]["success"]
    assert res["results"][1]["details"]["actual_type"] == "double"


def test_single_scan_fusion(spark):
    """All expectations must execute as one Spark job (the reference runs
    2 actions per expectation — transform.py:66-67)."""
    df = _df(spark, [("a", 1.0, 50.0), ("b", 2.0, 60.0)])
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    (
        DataValidator(df, "t")
        .expect_column_values_to_not_be_null("sensor_id")
        .expect_column_values_to_be_between("temperature_c", -50.0, 60.0)
        .expect_column_values_to_be_between("battery_level", 0.0, 100.0)
        .expect_table_row_count_to_be_greater_than(0)
        .validate()
    )
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before <= 2  # createDataFrame may add one; agg adds one


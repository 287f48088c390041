"""MetricsCollector: per-action job metrics (wall time, stage I/O totals,
status) and the alarm hook — engine-side analogue of the reference's
CloudWatch monitoring (monitoring/main.tf:45-164)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_datalake_platform_spark.observability import MetricsCollector


def test_run_captures_io_and_wall_time(spark):
    mc = MetricsCollector(spark)
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    rec = mc.run("sum_orders", lambda: df.agg(F.sum("o_totalprice")).collect())
    assert rec["status"] == "ok" and rec["error"] is None
    assert rec["wall_sec"] > 0
    assert rec["n_jobs"] >= 1
    assert rec["input_records"] == df.count()
    assert rec["input_bytes"] > 0
    assert rec["result"][0][0] is not None
    # appended to the collector's log (without the result payload)
    assert len(mc.records) == 1 and "result" not in mc.records[0]


def test_run_isolates_concurrent_actions(spark):
    """Metrics attribute only the wrapped action's jobs, not earlier ones."""
    mc = MetricsCollector(spark)
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    df.count()  # un-instrumented action: must not leak into the record
    rec = mc.run("count_lineitem", lambda: spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet").count())
    assert rec["result"] == rec["input_records"]


def test_run_isolates_collectors(spark):
    """Collectors share the SparkContext: a record name another collector
    already used must not pull that collector's jobs into the record."""
    first = MetricsCollector(spark).run("count", lambda: spark.range(10).count())
    second = MetricsCollector(spark).run("count", lambda: spark.range(10).count())
    assert second["n_jobs"] == first["n_jobs"] >= 1


def test_failed_action_surfaces_status_failed(spark):
    mc = MetricsCollector(spark)

    def boom():
        raise ValueError("bad batch")

    with pytest.raises(RuntimeError, match="bad batch"):
        mc.run("exploding_job", boom)
    assert mc.records[-1]["status"] == "failed"
    assert "bad batch" in mc.records[-1]["error"]

    rec = mc.run("exploding_job2", boom, raise_on_error=False)
    assert rec["status"] == "failed"


def test_breaches_alarm_hook(spark):
    mc = MetricsCollector(spark)
    mc.run("ok_job", lambda: spark.range(10).count())
    mc.run("bad_job", lambda: 1 / 0, raise_on_error=False)
    failed = mc.breaches(lambda r: r["status"] == "failed")
    assert [r["name"] for r in failed] == ["bad_job"]


def test_pipeline_status_dict_gains_job_metrics(spark, tmp_path):
    from aws_datalake_platform_spark.pipelines.iot import transform_iot_sensors
    from aws_datalake_platform_spark.sources.synthetic import iot_readings

    mc = MetricsCollector(spark)
    raw = iot_readings(spark, ticks=5, seed=7)
    result = transform_iot_sensors(
        spark, raw_df=raw, curated_path=str(tmp_path / "curated"), metrics=mc
    )
    assert result["success"] is True
    jm = result["job_metrics"]
    assert jm["status"] == "ok" and jm["wall_sec"] > 0 and jm["n_jobs"] >= 1
    assert mc.records and mc.records[-1]["name"] == "transform_iot_sensors"


def test_pipeline_failure_yields_failed_metrics(spark):
    from aws_datalake_platform_spark.pipelines.iot import transform_iot_sensors
    from aws_datalake_platform_spark.sources.synthetic import iot_readings

    mc = MetricsCollector(spark)
    raw = iot_readings(spark, ticks=2, seed=7).withColumn(
        "temperature_c", F.lit(None).cast("double")
    )
    result = transform_iot_sensors(
        spark, raw_df=raw, halt_on_validation_failure=True, metrics=mc
    )
    assert result["success"] is False
    assert result["job_metrics"]["status"] == "failed"
    assert "validation failed" in result["job_metrics"]["error"]

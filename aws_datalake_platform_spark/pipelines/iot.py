"""IoT sensor transform: raw NDJSON -> validated -> pseudonymized ->
quality-scored -> curated Parquet.

Reference parity: transform_iot_sensors (scripts/glue_transform/
transform.py:193-270) — same 9 expectations (:212-222), SHA-256
pseudonymization + PII column drop (:232-235, via native sha2 instead of
the Python UDF), 3-way quality CASE (:238-251), date partition (:253-257),
partitioned snappy sink (:260-265).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..catalog import RAW_IOT_SENSORS
from ..functions.core import date_partition, pseudonymize, quality_score
from ..validation import DataValidator
from .job import run_transform


def validate_iot(raw_df: DataFrame) -> dict[str, Any]:
    """The reference's IoT rule set (transform.py:212-222)."""
    return (
        DataValidator(raw_df, "raw_iot_sensors")
        .expect_column_values_to_not_be_null("sensor_id")
        .expect_column_values_to_not_be_null("city")
        .expect_column_values_to_not_be_null("timestamp")
        .expect_column_values_to_not_be_null("temperature_c")
        .expect_column_values_to_be_between("temperature_c", -50.0, 60.0)
        .expect_column_values_to_be_between("humidity_pct", 0.0, 100.0)
        .expect_column_values_to_be_between("aqi", 0.0, 500.0)
        .expect_column_values_to_be_between("battery_level", 0.0, 100.0)
        .expect_table_row_count_to_be_greater_than(0)
        .validate()
    )


def curate_iot(raw_df: DataFrame) -> DataFrame:
    """Pure transform: pseudonymize + drop PII (U1/P4), quality score (P3),
    date partition (P2). All column expressions — single codegen stage."""
    return (
        raw_df.withColumn("sensor_id_hash", pseudonymize("sensor_id"))
        .drop("sensor_id")
        .withColumn("quality_score", quality_score())
        .withColumn("date", date_partition("timestamp"))
    )


def transform_iot_sensors(
    spark: SparkSession,
    raw_path: str | None = None,
    curated_path: str | None = None,
    raw_df: DataFrame | None = None,
    halt_on_validation_failure: bool = False,
    infer_schema: bool = False,
    metrics=None,
) -> dict[str, Any] | None:
    """End-to-end IoT job (transform.py:193-270 semantics), run by
    pipelines/job.py:run_transform, which documents the return value and
    the ``metrics`` contract. Reads with the catalog's RAW_IOT_SENSORS
    schema by default (inference is a full extra pass at scale);
    infer_schema=True opts back into the reference's infer-on-read
    (transform.py:203)."""
    return run_transform(
        spark, "transform_iot_sensors", "iot", RAW_IOT_SENSORS, validate_iot, curate_iot,
        raw_path, curated_path, raw_df, halt_on_validation_failure, infer_schema, metrics,
    )

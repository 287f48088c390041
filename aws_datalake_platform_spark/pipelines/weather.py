"""Weather transform: raw NDJSON -> validated -> derived -> curated Parquet.

Reference parity: transform_weather (scripts/glue_transform/
transform.py:134-190) — same expectations, same derived columns
(P1 fahrenheit :171-173, P2 date substring :174-177), same partitioned
snappy-parquet sink (:180-185). Validation failures are non-blocking by
default like the reference (:165-167) but haltable by policy
(SURVEY.md §7 'non-blocking validation semantics').

Execution difference: the 6 expectations run as ONE fused aggregate
scan (validation.DataValidator) instead of 13 count() jobs.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..catalog import RAW_WEATHER
from ..functions.core import date_partition, fahrenheit
from ..validation import DataValidator
from .job import run_transform


def validate_weather(raw_df: DataFrame) -> dict[str, Any]:
    """The reference's weather rule set (transform.py:153-160)."""
    return (
        DataValidator(raw_df, "raw_weather")
        .expect_column_values_to_not_be_null("city")
        .expect_column_values_to_not_be_null("timestamp")
        .expect_column_values_to_not_be_null("temperature_c")
        .expect_column_values_to_be_between("temperature_c", -90.0, 60.0)
        .expect_column_values_to_be_between("humidity_pct", 0.0, 100.0)
        .expect_table_row_count_to_be_greater_than(0)
        .validate()
    )


def curate_weather(raw_df: DataFrame) -> DataFrame:
    """Pure transform: P1 + P2 derived columns. No action, no shuffle —
    stays a narrow projection over the scan."""
    return raw_df.withColumn("temperature_f", fahrenheit("temperature_c")).withColumn(
        "date", date_partition("timestamp")
    )


def transform_weather(
    spark: SparkSession,
    raw_path: str | None = None,
    curated_path: str | None = None,
    raw_df: DataFrame | None = None,
    halt_on_validation_failure: bool = False,
    infer_schema: bool = False,
    metrics=None,
) -> dict[str, Any] | None:
    """End-to-end weather job (transform.py:134-190 semantics), run by
    pipelines/job.py:run_transform, which documents the return value and
    the ``metrics`` contract. Reads with the catalog's authoritative
    RAW_WEATHER schema by default (catalog-as-source-of-truth, SURVEY
    §1.3); infer_schema=True restores the reference's infer-on-read
    (transform.py:144)."""
    return run_transform(
        spark, "transform_weather", "weather", RAW_WEATHER, validate_weather, curate_weather,
        raw_path, curated_path, raw_df, halt_on_validation_failure, infer_schema, metrics,
    )

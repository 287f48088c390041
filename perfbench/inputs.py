"""Seeded raw zone of the ``etl_ingest`` workload.

``write_raw_etl`` lands the reference pipeline's raw NDJSON with the
engine's own seeded generators (``sources.synthetic``), plus a few rows
that break validation rules so the validation summary has non-zero
counts to check. The query workloads read the test lakes under
``data/`` instead.
"""

from __future__ import annotations

import os

import numpy as np


# Rows appended to the raw IoT zone that break validation rules: a NULL
# temperature, an out-of-range humidity and an out-of-range battery.
_BAD_IOT = [
    ("sensor-bad000000001", "London", "2026-01-03T10:00:00.000000+00:00", None, 40.0, 10.0, 90.0),
    ("sensor-bad000000002", "Tokyo", "2026-01-04T11:00:00.000000+00:00", 20.0, 140.0, 10.0, 90.0),
    ("sensor-bad000000003", "Mumbai", "2026-01-05T12:00:00.000000+00:00", 20.0, 50.0, 10.0, 130.0),
]


def write_raw_etl(spark, out_dir: str, seed: int, ticks: int, days: int) -> dict[str, str]:
    """Land raw IoT and weather NDJSON under ``date=`` directories with the
    engine's generators. ``ticks`` IoT readings per sensor are spread over
    ``days`` days; weather has one 24-hour response per city and day.
    Returns the raw zone paths."""
    from aws_datalake_platform_spark.catalog import RAW_IOT_SENSORS
    from aws_datalake_platform_spark.sources.io import write_ndjson
    from aws_datalake_platform_spark.sources.synthetic import (
        iot_readings,
        open_meteo_like_response,
        weather_raw_from_responses,
    )
    from pyspark.sql import functions as F

    cities = ["New York", "London", "Tokyo", "Sydney", "Mumbai", "Paris", "Cairo", "Lima"]
    paths = {"iot": os.path.join(out_dir, "iot-sensors"), "weather": os.path.join(out_dir, "weather")}
    iot = iot_readings(
        spark, cities=cities, sensors_per_city=25, ticks=ticks, seed=seed,
        tick_seconds=days * 86_400 // ticks,
    ).unionByName(spark.createDataFrame(_BAD_IOT, RAW_IOT_SENSORS))
    write_ndjson(iot.withColumn("date", F.substring("timestamp", 1, 10)), paths["iot"], ["date"])

    dates = [str(np.datetime64("2026-01-01") + d) for d in range(days)]
    geo = [{"name": c, "latitude": 10.0 + i, "longitude": 20.0 + i} for i, c in enumerate(cities)]
    responses = [(c, open_meteo_like_response(c, d, seed=seed)) for c in geo for d in dates]
    weather = weather_raw_from_responses(spark, responses, f"bench-{seed}", "2026-01-01T00:00:00+00:00")
    write_ndjson(weather.withColumn("date", F.substring("timestamp", 1, 10)), paths["weather"], ["date"])
    return paths

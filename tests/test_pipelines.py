"""Golden end-to-end pipeline tests: raw fixture -> curated parquet ->
exact-match asserts, including SHA-256 vectors (SURVEY.md §5)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from aws_datalake_platform_spark.catalog import RAW_IOT_SENSORS, RAW_WEATHER
from aws_datalake_platform_spark.pipelines.iot import curate_iot, transform_iot_sensors, validate_iot
from aws_datalake_platform_spark.pipelines.weather import (
    curate_weather,
    transform_weather,
    validate_weather,
)
from aws_datalake_platform_spark.sources.io import read_ndjson, write_curated_parquet, write_ndjson
from aws_datalake_platform_spark.sources.synthetic import (
    iot_readings,
    open_meteo_like_response,
    weather_raw_from_responses,
)


def ref_sensor_id(city: str, idx: int) -> str:
    """Reference sensor-id minting (stream_generate/lambda_function.py:33-36)."""
    raw = f"{city.lower().replace(' ', '_')}_{idx:03d}"
    return f"sensor-{hashlib.sha256(raw.encode()).hexdigest()[:12]}"


def test_sensor_id_parity(spark):
    df = iot_readings(spark, cities=["New York", "Tokyo"], sensors_per_city=2, ticks=1)
    got = {r["sensor_id"] for r in df.select("sensor_id").distinct().collect()}
    want = {ref_sensor_id(c, i) for c in ["New York", "Tokyo"] for i in range(2)}
    assert got == want


def test_iot_generator_ranges_and_determinism(spark):
    df1 = iot_readings(spark, sensors_per_city=3, ticks=4, seed=7).collect()
    df2 = iot_readings(spark, sensors_per_city=3, ticks=4, seed=7).collect()
    assert sorted(map(tuple, df1)) == sorted(map(tuple, df2))  # same seed, same rows
    df3 = iot_readings(spark, sensors_per_city=3, ticks=4, seed=8).collect()
    assert sorted(map(tuple, df1)) != sorted(map(tuple, df3))  # different seed differs
    for r in df1:
        assert 20.0 <= r["humidity_pct"] <= 95.0
        assert 0.0 <= r["aqi"] <= 200.0
        assert 15.0 <= r["battery_level"] <= 100.0
        assert r["timestamp"].endswith("+00:00") or "T" in r["timestamp"]


def test_iot_curation_golden(spark):
    rows = [
        # battery>=50 + all non-null -> PASS
        ("sensor-aaa", "Tokyo", "2026-01-01T00:00:00.123456+00:00", 21.5, 50.0, 30.0, 80.0),
        # battery in [20,50) -> WARN even with all fields
        ("sensor-bbb", "Tokyo", "2026-01-01T01:00:00.123456+00:00", 22.0, 51.0, 31.0, 35.0),
        # battery>=50 but a null measure -> WARN (falls to battery>=20 branch)
        ("sensor-ccc", "Tokyo", "2026-01-02T00:00:00.123456+00:00", 23.0, None, 32.0, 90.0),
        # battery<20 -> FAIL
        ("sensor-ddd", "Tokyo", "2026-01-02T01:00:00.123456+00:00", 24.0, 52.0, 33.0, 10.0),
    ]
    raw = spark.createDataFrame(
        rows,
        "sensor_id string, city string, timestamp string, temperature_c double, "
        "humidity_pct double, aqi double, battery_level double",
    )
    out = {r["sensor_id_hash"]: r for r in curate_iot(raw).collect()}
    # exact SHA-256 vector parity with pseudonymize_column (transform.py:122-126)
    h = hashlib.sha256(b"sensor-aaa").hexdigest()
    assert h in out
    assert "sensor_id" not in curate_iot(raw).columns  # PII dropped (P4)
    assert out[h]["quality_score"] == "PASS"
    assert out[hashlib.sha256(b"sensor-bbb").hexdigest()]["quality_score"] == "WARN"
    assert out[hashlib.sha256(b"sensor-ccc").hexdigest()]["quality_score"] == "WARN"
    assert out[hashlib.sha256(b"sensor-ddd").hexdigest()]["quality_score"] == "FAIL"
    # P2: date is the first 10 chars of the ISO string
    assert out[h]["date"] == "2026-01-01"


def test_weather_flatten_pads_short_arrays(spark):
    city = {"name": "Tokyo", "latitude": 35.68, "longitude": 139.69}
    resp = open_meteo_like_response(city, "2026-01-05", hours=24)
    raw = weather_raw_from_responses(spark, [(city, resp)], "ing-1", "2026-01-05T06:00:00+00:00")
    rows = raw.orderBy("timestamp").collect()
    assert len(rows) == 24  # one row per hour (P6)
    assert rows[0]["timestamp"] == "2026-01-05T00:00"
    # precipitation array was 2 short -> last two rows NULL (batch_ingest:67-70)
    assert rows[22]["precipitation_mm"] is None and rows[23]["precipitation_mm"] is None
    assert rows[21]["precipitation_mm"] is not None
    assert rows[0]["ingestion_id"] == "ing-1"
    assert rows[0]["latitude"] == 35.68


def test_weather_curation_golden(spark):
    raw = spark.createDataFrame(
        [("i1", "Tokyo", 35.0, 139.0, "2026-01-05T03:00", 25.0, 60.0, 10.0, 0.0, "t")],
        "ingestion_id string, city string, latitude double, longitude double, "
        "timestamp string, temperature_c double, humidity_pct double, "
        "windspeed_kmh double, precipitation_mm double, ingested_at string",
    )
    row = curate_weather(raw).collect()[0]
    assert row["temperature_f"] == 77.0  # round(25*9/5+32, 2) (P1)
    assert row["date"] == "2026-01-05"  # substring(ts,1,10) (P2)


def test_end_to_end_lake_roundtrip(spark, tmp_path):
    """raw NDJSON zone -> transform -> curated parquet zone, the full
    reference pipeline shape (transform.py:134-190,193-270)."""
    lake = str(tmp_path)
    raw = iot_readings(spark, sensors_per_city=2, ticks=3, seed=1).withColumn(
        "date", F.substring("timestamp", 1, 10)
    )
    write_ndjson(raw, f"{lake}/raw/iot-sensors", ["date"])

    result = transform_iot_sensors(
        spark,
        raw_path=f"{lake}/raw/iot-sensors",
        curated_path=f"{lake}/curated/sensor-readings",
    )
    assert result is not None and result["success"]

    curated = spark.read.parquet(f"{lake}/curated/sensor-readings")
    assert curated.count() == 30  # 5 cities x 2 sensors x 3 ticks
    assert "sensor_id" not in curated.columns
    assert set(curated.select("quality_score").distinct().toPandas()["quality_score"]) <= {
        "PASS",
        "WARN",
        "FAIL",
    }
    # partition pruning works on the curated layout
    one_day = curated.filter(F.col("date") == "2026-01-01")
    assert one_day.count() == 30  # all ticks within one day


def test_weather_end_to_end(spark, tmp_path):
    cities = [
        {"name": "Tokyo", "latitude": 35.68, "longitude": 139.69},
        {"name": "London", "latitude": 51.5, "longitude": -0.12},
    ]
    resps = [(c, open_meteo_like_response(c, "2026-01-05")) for c in cities]
    raw = weather_raw_from_responses(spark, resps, "ing-9", "2026-01-05T06:00:00+00:00")
    result = transform_weather(
        spark, raw_df=raw, curated_path=str(tmp_path / "curated/weather")
    )
    assert result is not None
    curated = spark.read.parquet(str(tmp_path / "curated/weather"))
    assert curated.count() == 48
    assert "temperature_f" in curated.columns


def test_reference_catalog_serves_curated_tables(spark, tmp_path):
    """Both transforms write a tmp lake; the four reference tables are
    created over it (the Glue DDL role), MSCK REPAIR registers the
    curated date partitions, and spark.sql reads the curated rows back."""
    from aws_datalake_platform_spark.catalog import create_reference_tables, recover_partitions

    lake = str(tmp_path)
    _raw_zone(spark, f"{lake}/raw/iot-sensors", transform_iot_sensors)
    _raw_zone(spark, f"{lake}/raw/weather", transform_weather)
    for transform, raw, curated in [
        (transform_iot_sensors, "raw/iot-sensors", "curated/sensor-readings"),
        (transform_weather, "raw/weather", "curated/weather"),
    ]:
        assert transform(spark, f"{lake}/{raw}", f"{lake}/{curated}") is not None
    # pre-create the database in tmp so its warehouse dir stays out of the cwd
    spark.sql(f"CREATE DATABASE datalake LOCATION '{lake}/warehouse'")
    try:
        create_reference_tables(spark, lake)
        shown = spark.sql("SHOW TABLES IN datalake").collect()
        tables = {r["tableName"] for r in shown if not r["isTemporary"]}  # temp views list too
        assert tables == {
            "raw_weather", "raw_iot_sensors", "curated_weather", "curated_sensor_readings"
        }
        curated = ["curated_sensor_readings", "curated_weather"]

        def count(table):
            return spark.sql(f"SELECT COUNT(*) FROM datalake.{table}").first()[0]

        assert [count(t) for t in curated] == [0, 0]  # no partition registered yet
        for t in curated:
            recover_partitions(spark, f"datalake.{t}")
        parts = [[r[0] for r in spark.sql(f"SHOW PARTITIONS datalake.{t}").collect()] for t in curated]
        assert parts == [["date=2026-01-01"], ["date=2026-01-05"]]
        # 5 cities x 2 sensors x 3 ticks; one city x 24 hourly rows
        assert [count(t) for t in curated] == [30, 24]
    finally:
        spark.sql("DROP DATABASE IF EXISTS datalake CASCADE")


def test_catalog_schema_read_no_inference(spark, tmp_path):
    """transform_iot_sensors reads with the catalog's authoritative schema
    by default: fields NOT in RAW_IOT_SENSORS are invisible (proof the
    reader used the fixed schema, not inference), and the read schema is
    exactly the catalog StructType."""
    import json

    from aws_datalake_platform_spark.catalog import RAW_IOT_SENSORS
    from aws_datalake_platform_spark.sources.io import read_ndjson

    p = tmp_path / "raw"
    p.mkdir()
    row = {
        "sensor_id": "sensor-x",
        "city": "Tokyo",
        "timestamp": "2026-01-01T00:00:00+00:00",
        "temperature_c": 20.0,
        "humidity_pct": 50.0,
        "aqi": 10.0,
        "battery_level": 99.0,
        "rogue_extra_field": "would-only-appear-via-inference",
    }
    (p / "part-0.json").write_text(json.dumps(row) + "\n")

    df = read_ndjson(spark, str(p), schema=RAW_IOT_SENSORS)
    assert df.schema == RAW_IOT_SENSORS
    assert "rogue_extra_field" not in df.columns

    res = transform_iot_sensors(spark, raw_path=str(p), curated_path=str(tmp_path / "c"))
    assert res is not None and res["success"]
    curated = spark.read.parquet(str(tmp_path / "c"))
    assert "rogue_extra_field" not in curated.columns
    # opt-in inference restores the reference behavior
    inferred = read_ndjson(spark, str(p))
    assert "rogue_extra_field" in inferred.columns


def test_batch_ingest_raises_on_partial_failure(spark, tmp_path):
    """Reference error policy (batch_ingest:125-127): any failed city
    raises AFTER successes are landed, so scheduler alarms fire."""
    import pytest

    from aws_datalake_platform_spark.sources.http import BatchIngestError, run_batch_ingest
    from aws_datalake_platform_spark.sources.synthetic import open_meteo_like_response

    cities = [
        {"name": "Tokyo", "latitude": 35.68, "longitude": 139.69},
        {"name": "London", "latitude": 51.5, "longitude": -0.12},
    ]

    def flaky(city):
        if city["name"] == "London":
            return None
        return open_meteo_like_response(city, "2026-01-05")

    raw_path = str(tmp_path / "raw/weather")
    with pytest.raises(BatchIngestError, match="1/2 cities failed"):
        run_batch_ingest(spark, cities, raw_path=raw_path, ingestion_id="ing-1",
                         ingested_at="2026-01-05T06:00:00+00:00", fetcher=flaky)
    landed = spark.read.json(raw_path)
    assert landed.count() == 24  # Tokyo's 24 hourly rows landed before the raise
    assert landed.select("city").distinct().collect()[0]["city"] == "Tokyo"

    # all-success path returns the raw frame and does not raise
    ok = run_batch_ingest(
        spark, cities[:1], ingestion_id="ing-2",
        ingested_at="2026-01-05T06:00:00+00:00",
        fetcher=lambda c: open_meteo_like_response(c, "2026-01-05"),
    )
    assert ok.count() == 24


def test_scheduler_drives_pipeline_ticks(spark):
    """O1/O3 shim: two simulated rate ticks each run the IoT transform
    (reference cadence: eventbridge/main.tf:40-102)."""
    from datetime import datetime, timedelta, timezone

    from aws_datalake_platform_spark.orchestration import Scheduler

    t0 = datetime(2026, 1, 5, 0, 0, tzinfo=timezone.utc)
    raw = iot_readings(spark, sensors_per_city=1, ticks=1, seed=3)
    outcomes = []

    sched = Scheduler(clock=lambda: t0)
    sched.every(
        timedelta(hours=1),
        "iot_transform",
        lambda: outcomes.append(transform_iot_sensors(spark, raw_df=raw)),
    )
    fired = sched.run_pending(now=t0)  # due immediately at start
    assert [f["job"] for f in fired] == ["iot_transform"]
    assert sched.run_pending(now=t0 + timedelta(minutes=30)) == []  # not due
    fired2 = sched.run_pending(now=t0 + timedelta(hours=1))
    assert [f["job"] for f in fired2] == ["iot_transform"]
    assert len(outcomes) == 2 and all(o["success"] for o in outcomes)

    # failure surfaces as status=failed (O5) and raises when asked
    import pytest

    sched2 = Scheduler(clock=lambda: t0)
    def boom():
        raise RuntimeError("ingest down")
    sched2.every(timedelta(hours=1), "bad_job", boom)
    [res] = sched2.run_pending(now=t0)
    assert res["status"] == "failed" and "ingest down" in res["error"]
    sched3 = Scheduler(clock=lambda: t0)
    sched3.every(timedelta(hours=1), "bad_job", boom, raise_on_error=True)
    with pytest.raises(RuntimeError):
        sched3.run_pending(now=t0)


def test_daily_cron_schedule():
    from datetime import datetime, timedelta, timezone

    from aws_datalake_platform_spark.orchestration import Scheduler

    t0 = datetime(2026, 1, 5, 1, 30, tzinfo=timezone.utc)
    sched = Scheduler(clock=lambda: t0)
    runs = []
    sched.daily_at(2, 0, "transform", lambda: runs.append(1))  # cron(0 2 * * ? *)
    assert sched.run_pending(now=t0) == []  # 01:30 < 02:00
    assert len(sched.run_pending(now=t0 + timedelta(minutes=31))) == 1
    assert sched.run_pending(now=t0 + timedelta(hours=2)) == []  # next fire tomorrow
    assert len(sched.run_pending(now=t0 + timedelta(days=1, hours=1))) == 1
    assert runs == [1, 1]


_TRANSFORMS = pytest.mark.parametrize(
    "transform, validate, curate, schema",
    [
        (transform_iot_sensors, validate_iot, curate_iot, RAW_IOT_SENSORS),
        (transform_weather, validate_weather, curate_weather, RAW_WEATHER),
    ],
    ids=["iot", "weather"],
)


def _raw_zone(spark, path: str, transform) -> None:
    """A small dated NDJSON raw zone for ``transform``'s dataset."""
    if transform is transform_iot_sensors:
        raw = iot_readings(spark, sensors_per_city=2, ticks=3, seed=1)
    else:
        city = {"name": "Tokyo", "latitude": 35.68, "longitude": 139.69}
        raw = weather_raw_from_responses(
            spark, [(city, open_meteo_like_response(city, "2026-01-05"))],
            "ing-1", "2026-01-05T06:00:00+00:00",
        )
    write_ndjson(raw.withColumn("date", F.substring("timestamp", 1, 10)), path, ["date"])


@_TRANSFORMS
@pytest.mark.parametrize(
    "source", ["empty_frame", "empty_dir", "empty_dir_inferred", "missing_path"]
)
def test_empty_input_guard(spark, tmp_path, transform, validate, curate, schema, source):
    """S5: empty or missing input -> skip, return None, write nothing
    (transform.py:145-147). An inferred read of an empty file has no
    columns at all and is empty input too."""
    raw, curated = tmp_path / "raw", tmp_path / "curated"
    if source == "empty_frame":
        kwargs = {"raw_df": spark.createDataFrame([], schema)}
    else:
        if source != "missing_path":
            raw.mkdir()
            (raw / "part-00000.json").touch()
        kwargs = {"raw_path": str(raw), "infer_schema": source == "empty_dir_inferred"}
    assert transform(spark, curated_path=str(curated), **kwargs) is None
    assert not curated.exists()


@_TRANSFORMS
def test_empty_guard_costs_no_job(spark, tmp_path, transform, validate, curate, schema):
    """The empty guard reads the row count the validation aggregate
    already carries: a transform runs exactly the jobs of its validation
    plus those of its curate + write, with no isEmpty() job of its own."""
    from aws_datalake_platform_spark.observability import MetricsCollector

    raw_path = str(tmp_path / "raw")
    _raw_zone(spark, raw_path, transform)
    mc = MetricsCollector(spark)
    val = mc.run("validate", lambda: validate(read_ndjson(spark, raw_path, schema=schema)))
    write = mc.run("curate+write", lambda: write_curated_parquet(
        curate(read_ndjson(spark, raw_path, schema=schema)), str(tmp_path / "c1"), ["date"]))
    result = transform(spark, raw_path, str(tmp_path / "c2"), metrics=mc)
    assert result == {**val["result"], "job_metrics": result["job_metrics"]}
    assert val["n_jobs"] >= 1 and write["n_jobs"] >= 1
    assert result["job_metrics"]["n_jobs"] == val["n_jobs"] + write["n_jobs"]


def test_validation_failure_nonblocking_and_halt(spark, tmp_path):
    """Non-blocking by default (transform.py:165-167), haltable by policy."""
    bad = spark.createDataFrame(
        [(None, "Tokyo", "2026-01-01T00:00:00", 200.0, 50.0, 30.0, 80.0)],
        "sensor_id string, city string, timestamp string, temperature_c double, "
        "humidity_pct double, aqi double, battery_level double",
    )
    res = transform_iot_sensors(spark, raw_df=bad, curated_path=str(tmp_path / "c"))
    assert res is not None and not res["success"]  # proceeded anyway
    assert spark.read.parquet(str(tmp_path / "c")).count() == 1

    import pytest

    with pytest.raises(ValueError):
        transform_iot_sensors(spark, raw_df=bad, halt_on_validation_failure=True)


def test_csv_roundtrip_with_schema_no_inference(spark, tmp_path):
    """CSV write -> schema'd read roundtrips values and runs NO inference
    job (the reader must not scan the data before the real pass)."""
    from aws_datalake_platform_spark.sources.io import read_csv, write_csv
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [(1, "york", 2.5), (2, "oslo", -3.0)], "id long, city string, temp double"
    )
    path = str(tmp_path / "csv_out")
    write_csv(df, path, partition_cols=["city"])

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("temp", T.DoubleType()),
            T.StructField("city", T.StringType()),
        ]
    )
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])
    back = read_csv(spark, path, schema=schema)
    jobs_after = len(tracker.getJobIdsForGroup(None) or [])
    assert jobs_after == jobs_before, "schema'd CSV read must not launch an inference job"
    rows = {(r["id"], r["city"], r["temp"]) for r in back.collect()}
    assert rows == {(1, "york", 2.5), (2, "oslo", -3.0)}


def test_merge_upsert_touches_only_affected_partitions(spark, tmp_path):
    """Upsert updates one date partition: key update + insert applied,
    untouched partition's files are byte-identical (not rewritten)."""
    import os

    from aws_datalake_platform_spark.operators.maintenance import merge_upsert

    path = str(tmp_path / "lake")
    base = spark.createDataFrame(
        [(1, "a", 1, "2024-01-01"), (2, "b", 1, "2024-01-01"), (3, "c", 1, "2024-01-02")],
        "id long, payload string, version long, date string",
    )
    base.write.partitionBy("date").parquet(path)
    untouched_dir = os.path.join(path, "date=2024-01-02")
    before = {
        f: os.path.getmtime(os.path.join(untouched_dir, f))
        for f in os.listdir(untouched_dir)
    }

    updates = spark.createDataFrame(
        [(1, "a2", 2, "2024-01-01"), (9, "new", 1, "2024-01-01")],
        "id long, payload string, version long, date string",
    )
    merge_upsert(spark, path, updates, ["id"], "version", ["date"])

    got = {(r["id"], r["payload"], r["version"]) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a2", 2), (2, "b", 1), (3, "c", 1), (9, "new", 1)}
    after = {
        f: os.path.getmtime(os.path.join(untouched_dir, f))
        for f in os.listdir(untouched_dir)
    }
    assert before == after, "untouched partition must not be rewritten"


def test_merge_upsert_dense_batch_semi_join_fallback(spark, tmp_path):
    """Touched-partition count over the collect cap switches to the
    LEFT SEMI pruning regime; results identical to the sparse path."""
    from aws_datalake_platform_spark.operators.maintenance import merge_upsert

    path = str(tmp_path / "lake3")
    spark.createDataFrame(
        [(1, "a", 1, "d1"), (2, "b", 1, "d2"), (3, "c", 1, "d3")],
        "id long, payload string, version long, date string",
    ).write.partitionBy("date").parquet(path)
    updates = spark.createDataFrame(
        [(1, "a2", 2, "d1"), (2, "b2", 2, "d2")],
        "id long, payload string, version long, date string",
    )
    merge_upsert(
        spark, path, updates, ["id"], "version", ["date"], max_collect_partitions=1
    )
    got = {(r["id"], r["payload"], r["version"]) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a2", 2), (2, "b2", 2), (3, "c", 1)}


def test_merge_upsert_older_version_loses(spark, tmp_path):
    from aws_datalake_platform_spark.operators.maintenance import merge_upsert

    path = str(tmp_path / "lake2")
    spark.createDataFrame(
        [(1, "current", 5, "2024-01-01")],
        "id long, payload string, version long, date string",
    ).write.partitionBy("date").parquet(path)
    merge_upsert(
        spark,
        path,
        spark.createDataFrame(
            [(1, "stale", 3, "2024-01-01")],
            "id long, payload string, version long, date string",
        ),
        ["id"], "version", ["date"],
    )
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 1 and rows[0]["payload"] == "current"


def test_compact_partitions_reduces_files(spark, tmp_path):
    """A partition fragmented into ~16 files compacts to the target count
    with identical data."""
    from aws_datalake_platform_spark.operators.maintenance import (
        compact_partitions,
        partition_file_stats,
    )

    path = str(tmp_path / "frag")
    df = spark.range(0, 20000).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("part"),
    )
    df.repartition(16).write.partitionBy("part").parquet(path)
    pre = partition_file_stats(spark, path, ["part"])
    assert all(n >= 8 for n, _ in pre.values())
    before = {tuple(r) for r in spark.read.parquet(path).collect()}

    compact_partitions(spark, path, ["part"], target_bytes=1 << 30)  # -> 1 file each
    post = partition_file_stats(spark, path, ["part"])
    assert all(n == 1 for n, _ in post.values()), post
    after = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert before == after


def test_orc_roundtrip_partitioned(spark, tmp_path):
    from aws_datalake_platform_spark.catalog import load_table
    from aws_datalake_platform_spark.sources.io import read_orc, write_orc

    df = load_table(spark, "/root/testdata/sf0.001", "nation")
    path = str(tmp_path / "nation.orc")
    write_orc(df, path, partition_cols=["n_regionkey"])
    back = read_orc(spark, path)
    assert sorted(back.columns) == sorted(df.columns)
    a = sorted(tuple(r[c] for c in sorted(df.columns)) for r in back.collect())
    b = sorted(tuple(r[c] for c in sorted(df.columns)) for r in df.collect())
    assert a == b


def test_column_encryption_roundtrip_and_determinism(spark):
    from pyspark.sql import functions as F

    from aws_datalake_platform_spark.functions.core import decrypt_column, encrypt_column

    key = "0123456789abcdef"
    df = spark.createDataFrame([("alice",), ("bob",), ("alice",)], ["name"])
    gcm = df.select(
        decrypt_column(encrypt_column("name", key), key).alias("pt"),
        encrypt_column("name", key).alias("ct"),
    )
    rows = gcm.collect()
    assert [r["pt"] for r in rows] == ["alice", "bob", "alice"]
    # ECB is deterministic (joinable); verify equal plaintexts collide
    ecb = df.select(encrypt_column("name", key, "ECB").alias("ct")).collect()
    assert bytes(ecb[0]["ct"]) == bytes(ecb[2]["ct"]) != bytes(ecb[1]["ct"])


def test_python_datasource_matches_generator(spark):
    """The custom DataSource must emit exactly the deterministic fake's
    values, one input partition per city, with short-array None padding."""
    from aws_datalake_platform_spark.sources.pyds import OpenMeteoSimDataSource
    from aws_datalake_platform_spark.sources.synthetic import open_meteo_like_response

    spark.dataSource.register(OpenMeteoSimDataSource)
    df = (
        spark.read.format("openmeteo_sim")
        .option("cities", "london,paris")
        .option("date", "2026-01-02")
        .load()
    )
    assert df.rdd.getNumPartitions() == 2  # one partition per city
    rows = df.orderBy("city", "time").collect()
    assert len(rows) == 48

    ref = open_meteo_like_response({"name": "london"}, "2026-01-02")["hourly"]
    london = [r for r in rows if r["city"] == "london"]
    assert [r["time"] for r in london] == ref["time"]
    assert [r["temperature_2m"] for r in london] == ref["temperature_2m"]
    # precipitation array is 2 short -> padded with None at the tail
    assert london[-1]["precipitation"] is None and london[-2]["precipitation"] is None
    assert [r["precipitation"] for r in london[:-2]] == ref["precipitation"]


def test_salted_join_handles_planted_hot_key(spark):
    from pyspark.sql import functions as F

    from aws_datalake_platform_spark.operators.bucketing import salted_join

    # 1000 rows on ONE hot key + a long tail
    big = spark.createDataFrame(
        [(1, i) for i in range(1000)] + [(k, 0) for k in range(2, 52)], ["k", "payload"]
    )
    small = spark.createDataFrame([(k, f"dim{k}") for k in range(1, 52)], ["k", "name"])
    out = salted_join(big, small, "k", n_salts=8)
    agg = {r["k"]: r["n"] for r in out.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert agg[1] == 1000  # every hot-key row matched exactly once
    assert all(agg[k] == 1 for k in range(2, 52))
    # and the hot key's rows actually carry multiple salt values (the
    # spread mechanism; AQE re-coalesces tiny test shuffles so physical
    # partition counts are not observable at this scale)
    from aws_datalake_platform_spark.operators.bucketing import salted_join as _sj  # noqa: F401
    salted = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(8))
    )
    n_salts_hot = salted.filter(F.col("k") == 1).select("__salt").distinct().count()
    assert n_salts_hot > 4


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """Appending files with an added column must be readable as one table
    with mergeSchema (old rows null-filled) — the lake's schema-evolution
    contract without a table format."""
    path = str(tmp_path / "evolve")
    spark.createDataFrame([(1, "a")], ["id", "v1"]).write.parquet(path)
    spark.createDataFrame([(2, "b", 9.5)], ["id", "v1", "v2"]).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert sorted(merged.columns) == ["id", "v1", "v2"]
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["v2"] is None and rows[2]["v2"] == 9.5


def test_haversine_known_distances(spark):
    """haversine_km against surveyed city distances (±0.5%)."""
    from aws_datalake_platform_spark.functions.core import haversine_km

    rows = [
        # city pair, surveyed great-circle km
        ("paris-london", 48.8566, 2.3522, 51.5074, -0.1278, 343.5),
        ("nyc-la", 40.7128, -74.0060, 34.0522, -118.2437, 3935.7),
        ("sydney-tokyo", -33.8688, 151.2093, 35.6762, 139.6503, 7823.0),
        ("same-point", 10.0, 20.0, 10.0, 20.0, 0.0),
    ]
    df = spark.createDataFrame(
        rows, "pair string, lat1 double, lon1 double, lat2 double, lon2 double, want double"
    )
    got = {
        r["pair"]: (r["km"], r["want"])
        for r in df.select(
            "pair", haversine_km("lat1", "lon1", "lat2", "lon2").alias("km"), "want"
        ).collect()
    }
    for pair, (km, want) in got.items():
        assert abs(km - want) <= max(0.005 * want, 0.01), (pair, km, want)


def test_cli_list_and_run(spark, capsys, tmp_path):
    """CLI surface: list prints the registry; run executes a query and
    writes parquet via --output."""
    from aws_datalake_platform_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q01_pricing_summary" in out and "sql-oracle" in out

    dst = str(tmp_path / "q01_out")
    assert main(["run", "q01_pricing_summary", "--output", dst]) == 0
    assert spark.read.parquet(dst).count() == 6

    assert main(["run", "no_such_query"]) == 2


def test_file_metadata_provenance_columns(spark):
    """The hidden _metadata struct exposes per-row file provenance
    (path, size, modification time) — the lineage hook a lake audit
    needs, with zero extra IO."""
    import os

    from .conftest import SF_SMOKE

    path = os.path.join(SF_SMOKE, "orders.parquet")
    df = spark.read.parquet(path).select(
        "_metadata.file_path", "_metadata.file_size", "o_orderkey"
    )
    rows = df.limit(5).collect()
    assert rows and all(r["file_path"].endswith(".parquet") for r in rows)
    assert all(r["file_size"] > 0 for r in rows)


def test_binary_file_source_for_media_ingest(spark, tmp_path):
    """spark.read.format('binaryFile') is the ingestion path for media
    corpora: whole-file bytes + path/length/modificationTime metadata,
    feeding the multimodal operators without any custom reader."""
    d = tmp_path / "media"
    d.mkdir()
    payloads = {f"rec{i}.pcm": bytes([i] * (10 + i)) for i in range(3)}
    for name, data in payloads.items():
        (d / name).write_bytes(data)

    df = spark.read.format("binaryFile").load(str(d))
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == set(payloads)
    for name, data in payloads.items():
        assert bytes(rows[name]["content"]) == data
        assert rows[name]["length"] == len(data)


def test_text_source_line_oriented(spark, tmp_path):
    """spark.read.text: line-per-row ingestion for raw text corpora."""
    f = tmp_path / "corpus.txt"
    f.write_text("alpha\nbeta\ngamma\n")
    got = sorted(r["value"] for r in spark.read.text(str(f)).collect())
    assert got == ["alpha", "beta", "gamma"]


def test_ndjson_dead_letter_routing(spark, tmp_path):
    """Corrupt raw lines must land in the dead-letter dir and NEVER reach
    the returned frame — real OSS routing (Databricks' badRecordsPath
    option silently no-ops on open-source Spark)."""
    from pyspark.sql import types as T

    from aws_datalake_platform_spark.sources.io import read_ndjson

    src = tmp_path / "raw"
    src.mkdir()
    (src / "part.json").write_text(
        '{"city": "berlin", "temp": 11.5}\n'
        "THIS IS NOT JSON\n"
        '{"city": "paris", "temp": 14.0}\n'
        '{"city": "oslo", "temp": broken}\n'
    )
    dead = str(tmp_path / "dead")
    schema = T.StructType(
        [T.StructField("city", T.StringType()), T.StructField("temp", T.DoubleType())]
    )
    good = read_ndjson(spark, str(src), schema=schema, bad_records_path=dead)
    assert {r["city"] for r in good.collect()} == {"berlin", "paris"}
    assert good.columns == ["city", "temp"]
    bad_lines = {r["value"] for r in spark.read.text(dead).collect()}
    assert bad_lines == {"THIS IS NOT JSON", '{"city": "oslo", "temp": broken}'}


def _dated_lake(spark, path):
    """year=/month=/day= lake with 4 dated partitions spanning a cutoff."""
    rows = []
    for i, (y, m, d) in enumerate([(2023, 12, 30), (2023, 12, 31), (2024, 1, 1), (2024, 1, 2)]):
        rows += [(i * 10 + j, y, m, d) for j in range(3)]
    spark.createDataFrame(rows, "id long, year int, month int, day int").write.partitionBy(
        "year", "month", "day"
    ).parquet(path)


def test_expire_partitions_dry_run_touches_nothing(spark, tmp_path):
    from aws_datalake_platform_spark.operators.maintenance import expire_partitions

    path = str(tmp_path / "lake")
    _dated_lake(spark, path)
    report = expire_partitions(
        spark, path, ["year", "month", "day"], older_than="2024-01-01", dry_run=True
    )
    assert [r["date"] for r in report] == ["2023-12-30", "2023-12-31"]
    assert all(r["action"] == "dry_run:delete" and r["n_files"] >= 1 for r in report)
    # nothing touched: all 12 rows still readable
    assert spark.read.parquet(path).count() == 12


def test_expire_partitions_deletes_old_keeps_new(spark, tmp_path):
    from aws_datalake_platform_spark.operators.maintenance import expire_partitions

    path = str(tmp_path / "lake")
    _dated_lake(spark, path)
    report = expire_partitions(
        spark, path, ["year", "month", "day"], older_than="2024-01-01"
    )
    assert [r["date"] for r in report] == ["2023-12-30", "2023-12-31"]
    left = spark.read.parquet(path)
    assert left.count() == 6
    assert {(r["year"], r["month"], r["day"]) for r in left.collect()} == {
        (2024, 1, 1), (2024, 1, 2)
    }
    # the empty year=2023 shell dirs are pruned too
    import os

    assert "year=2023" not in os.listdir(path)


def test_expire_partitions_archive_mode_moves(spark, tmp_path):
    from aws_datalake_platform_spark.operators.maintenance import expire_partitions

    path = str(tmp_path / "lake")
    arch = str(tmp_path / "archive")
    _dated_lake(spark, path)
    report = expire_partitions(
        spark, path, ["year", "month", "day"], older_than="2024-01-01",
        archive_path=arch,
    )
    assert all(r["action"] == "archive" for r in report)
    assert spark.read.parquet(path).count() == 6
    # archived partitions remain readable at the archive root
    archived = spark.read.parquet(arch)
    assert archived.count() == 6
    assert {(r["year"], r["month"], r["day"]) for r in archived.collect()} == {
        (2023, 12, 30), (2023, 12, 31)
    }


def test_expire_partitions_syncs_catalog(spark, tmp_path):
    from aws_datalake_platform_spark.operators.maintenance import expire_partitions

    path = str(tmp_path / "lake")
    _dated_lake(spark, path)
    spark.sql("DROP TABLE IF EXISTS t_expire")
    spark.catalog.createTable("t_expire", path=path, source="parquet")
    spark.sql("MSCK REPAIR TABLE t_expire")
    assert spark.sql("SHOW PARTITIONS t_expire").count() == 4

    expire_partitions(
        spark, path, ["year", "month", "day"], older_than="2024-01-01",
        table="t_expire",
    )
    assert spark.sql("SHOW PARTITIONS t_expire").count() == 2
    assert spark.table("t_expire").count() == 6
    spark.sql("DROP TABLE t_expire")


def test_expire_partitions_archive_refuses_existing_destination(spark, tmp_path):
    """Re-expiring a re-created partition must refuse loudly instead of
    nesting the directory inside the prior archive copy."""
    import pytest as _pytest

    from aws_datalake_platform_spark.operators.maintenance import expire_partitions

    path = str(tmp_path / "lake")
    arch = str(tmp_path / "archive")
    _dated_lake(spark, path)
    expire_partitions(spark, path, ["year", "month", "day"],
                      older_than="2024-01-01", archive_path=arch)
    # re-create one expired partition (late backfill), then expire again
    spark.createDataFrame([(99, 2023, 12, 30)], "id long, year int, month int, day int")\
        .write.mode("append").partitionBy("year", "month", "day").parquet(path)
    with _pytest.raises(FileExistsError, match="archived before"):
        expire_partitions(spark, path, ["year", "month", "day"],
                          older_than="2024-01-01", archive_path=arch)


def test_dead_letter_per_run_dirs_and_no_cache_leak(spark, tmp_path):
    """Two reads of the same corrupt input log to separate run= dirs (no
    silent duplicate-append into one flat dir), the returned good rows
    remain usable after the internal cache is released, and no cached
    blocks leak."""
    from pyspark.sql import types as T

    from aws_datalake_platform_spark.sources.io import read_ndjson

    src = tmp_path / "raw"
    src.mkdir()
    (src / "a.json").write_text('{"city": "rome", "temp": 20.0}\nBROKEN\n')
    dead = str(tmp_path / "dead")
    schema = T.StructType(
        [T.StructField("city", T.StringType()), T.StructField("temp", T.DoubleType())]
    )
    jsc = spark.sparkContext._jsc.sc()
    cached_before = jsc.getPersistentRDDs().size()
    g1 = read_ndjson(spark, str(src), schema=schema, bad_records_path=dead)
    g2 = read_ndjson(spark, str(src), schema=schema, bad_records_path=dead)
    # good rows usable post-unpersist (recompute from lineage)
    assert [r["city"] for r in g1.collect()] == ["rome"]
    assert [r["city"] for r in g2.collect()] == ["rome"]
    import os

    runs = [d for d in os.listdir(dead) if d.startswith("run=")]
    assert len(runs) == 2, runs
    bad = spark.read.text(dead)
    assert bad.count() == 2  # one BROKEN line per run, separately attributed
    # no leaked cache: the reader released its persist (relative check —
    # the shared session holds by-design persists from other operators)
    assert jsc.getPersistentRDDs().size() <= cached_before


def test_cli_expire_and_compact_subcommands(spark, tmp_path):
    """CLI maintenance surface: expire dry-run leaves data, --apply
    removes; compact reports pre-compaction stats and reduces files."""
    from aws_datalake_platform_spark.__main__ import main

    path = str(tmp_path / "lake")
    spark.createDataFrame(
        [(i, 2023 + i % 2, 1, 1) for i in range(10)],
        "id long, year int, month int, day int",
    ).repartition(4).write.partitionBy("year", "month", "day").parquet(path)

    rc = main(["expire", path, "--partition-cols", "year,month,day",
               "--older-than", "2024-01-01"])
    assert rc == 0
    assert spark.read.parquet(path).count() == 10  # dry-run: untouched

    rc = main(["expire", path, "--partition-cols", "year,month,day",
               "--older-than", "2024-01-01", "--apply"])
    assert rc == 0
    assert spark.read.parquet(path).count() == 5

    rc = main(["compact", path, "--partition-cols", "year,month,day",
               "--target-bytes", str(1 << 30)])
    assert rc == 0
    from aws_datalake_platform_spark.operators.maintenance import partition_file_stats

    post = partition_file_stats(spark, path, ["year", "month", "day"])
    assert all(n == 1 for n, _ in post.values())


def test_cli_snapshots_subcommand(spark, tmp_path, capsys):
    from aws_datalake_platform_spark.__main__ import main
    from aws_datalake_platform_spark.operators.snapshots import write_snapshot

    path = str(tmp_path / "snap_tbl")
    write_snapshot(spark.createDataFrame([(1,)], "id long"), path)
    write_snapshot(spark.createDataFrame([(2,)], "id long"), path)

    assert main(["snapshots", path]) == 0
    out = capsys.readouterr().out
    assert "'version': 1" in out and "'version': 2" in out

    assert main(["snapshots", path, "--rollback", "1"]) == 0
    assert main(["snapshots", path, "--read", "3"]) == 0
    out = capsys.readouterr().out
    assert "rolled back to 1 as new version 3" in out

    assert main(["snapshots", path, "--expire-keep", "1"]) == 0  # dry run
    assert main(["snapshots", path, "--expire-keep", "1", "--apply"]) == 0
    out = capsys.readouterr().out
    assert "expired_versions" in out


def test_dead_letter_good_rows_count_directly(spark, tmp_path):
    """Regression (r3 review): count()/isEmpty() on the returned good-rows
    frame must work. A filter over the PERMISSIVE scan breaks here —
    column pruning leaves a corrupt-column-only scan, which Spark refuses
    with UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN."""
    from pyspark.sql import types as T

    from aws_datalake_platform_spark.sources.io import read_ndjson

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text('{"id": 1, "v": "ok"}\nnot json at all\n{"id": 2, "v": "ok2"}\n')
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    good = read_ndjson(spark, str(src), schema=schema, bad_records_path=str(tmp_path / "dead"))
    assert good.count() == 2        # the action that used to raise
    assert not good.isEmpty()
    assert sorted(r.id for r in good.collect()) == [1, 2]


def test_dead_letter_count_equals_collect(spark, tmp_path):
    """Regression (r3 advisor): DROPMALFORMED is projection-dependent —
    a VALID-JSON line with a type mismatch ('id': 'oops' against LONG)
    is malformed only if the pruned projection requires the bad column,
    so count() (zero required columns) used to include a row collect()
    excluded. The returned frame must force full-row parsing so every
    action sees the same row set, and the bad row must be dead-lettered."""
    import glob as _glob

    from pyspark.sql import types as T

    from aws_datalake_platform_spark.sources.io import read_csv, read_ndjson

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text(
        '{"id": 1, "v": "ok"}\n{"id": "oops", "v": "typed-bad"}\n{"id": 2, "v": "ok2"}\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    good = read_ndjson(spark, str(src), schema=schema, bad_records_path=str(tmp_path / "dead"))
    rows = good.collect()
    assert good.count() == len(rows) == 2, "count() disagrees with collect()"
    assert sorted(r.id for r in rows) == [1, 2]
    dead = []
    for f in _glob.glob(str(tmp_path / "dead" / "run=*" / "part-*")):
        dead += open(f).read().splitlines()
    assert len(dead) == 1 and "oops" in dead[0]

    # same contract on the CSV path: 'xx' cannot parse as LONG
    (tmp_path / "csv").mkdir()
    (tmp_path / "csv" / "a.csv").write_text("id,v\n1,ok\nxx,typed-bad\n2,ok2\n")
    good_csv = read_csv(
        spark, str(tmp_path / "csv"), schema=schema, bad_records_path=str(tmp_path / "dead2")
    )
    rows_csv = good_csv.collect()
    assert good_csv.count() == len(rows_csv) == 2


def test_expire_partitions_coarse_granularity_is_conservative(spark, tmp_path):
    """Regression (r3 review): a year=/month= partition must NOT expire
    under a mid-month cutoff — only when its whole month is older."""
    from aws_datalake_platform_spark.operators.maintenance import expire_partitions

    path = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [(1, 2023, 12), (2, 2024, 1), (3, 2024, 2)], ["id", "year", "month"]
    )
    df.write.partitionBy("year", "month").parquet(path)

    report = expire_partitions(
        spark, path, ["year", "month"], older_than="2024-01-15", dry_run=True
    )
    expired = {r["date"] for r in report}
    assert expired == {"2023-12"}  # 2024-01 spans past the cutoff -> kept

    report = expire_partitions(
        spark, path, ["year", "month"], older_than="2024-02-01"
    )
    assert {r["date"] for r in report} == {"2023-12", "2024-01"}
    import os

    assert not os.path.exists(os.path.join(path, "year=2024", "month=1"))
    assert os.path.exists(os.path.join(path, "year=2024", "month=2"))


def test_cli_zonemap_subcommand(spark, tmp_path, capsys):
    from aws_datalake_platform_spark.__main__ import main

    path = str(tmp_path / "zm")
    spark.range(100).selectExpr("id", "id * 2 AS v").repartitionByRange(
        4, "id"
    ).write.parquet(path)
    assert main(["zonemap", path, "--column", "id"]) == 0
    out = capsys.readouterr().out
    assert "'stats'" in out and out.count("'file'") == 4
    assert main(["zonemap", path, "--column", "id", "--lo", "0", "--hi", "10"]) == 0
    out = capsys.readouterr().out
    assert "'skip_fraction'" in out


def test_corpus_curation_pipeline_end_to_end(spark, tmp_path):
    """The composed curation flow: dedup -> quality -> decontaminate ->
    sample -> snapshot write, over real testdata documents."""
    from aws_datalake_platform_spark.catalog import load_table
    from aws_datalake_platform_spark.operators.snapshots import (
        list_snapshots,
        read_snapshot,
    )
    from aws_datalake_platform_spark.pipelines.corpus import curate_corpus

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "curated")
    r = curate_corpus(spark, docs, out_path=out)

    # monotone funnel: every stage can only drop rows
    assert r["n_raw"] >= r["n_after_dedup"] >= 0
    assert r["n_after_quality"] <= r["n_after_dedup"]
    assert r["n_after_decontam"] <= r["n_after_quality"]
    assert r["n_final"] <= r["n_after_decontam"]
    assert r["n_final"] > 0  # the testdata corpus survives curation
    # benchmark slice is fully excluded from the output
    assert r["curated"].filter(F.col("doc_id") % 20 == 0).count() == 0
    assert "quality_score" in r["curated"].columns

    # committed as snapshot v1, readable through the store
    assert r["snapshot_version"] == 1
    assert read_snapshot(spark, out).count() == r["n_final"]
    assert [s["version"] for s in list_snapshots(out)] == [1]

    # deterministic: a second run produces the identical corpus (v2)
    r2 = curate_corpus(spark, docs, out_path=out)
    assert r2["n_final"] == r["n_final"]
    assert r2["snapshot_version"] == 2
    a = {x.doc_id for x in read_snapshot(spark, out, 1).collect()}
    b = {x.doc_id for x in read_snapshot(spark, out, 2).collect()}
    assert a == b


def test_cli_smoke_subcommand(spark, capsys, tmp_path):
    """`smoke` mirrors the reference runbook's weekly operational
    checklist (docs/runbook.md:156-163): land raw data, trigger both
    pipelines, verify curated rows + partition pruning, sanity query,
    alarm sweep — exit 0 with every check PASS."""
    from aws_datalake_platform_spark.__main__ import main

    rc = main(["smoke", "--workdir", str(tmp_path / "lake")])
    out = capsys.readouterr().out
    assert rc == 0
    assert "smoke: 9/9 checks passed" in out
    assert "[FAIL]" not in out
    # --workdir keeps the lake for inspection: curated zones exist
    assert (tmp_path / "lake" / "curated" / "sensor-readings").exists()
    assert (tmp_path / "lake" / "curated" / "weather").exists()


def test_corpus_pipeline_rule_gate_and_mixture_report(spark):
    """Opt-in Gopher rule gate drops rule-failing docs before scoring;
    report_mixture hands back the final corpus's per-source temperature
    weights (partition of unity)."""
    from aws_datalake_platform_spark.catalog import load_table
    from aws_datalake_platform_spark.pipelines.corpus import curate_corpus

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    gate = {
        "min_words": 20,
        "max_words": 1000,
        "stopwords": ("the", "a", "of", "and", "to", "in"),
    }
    r = curate_corpus(spark, docs, rule_gate=gate, report_mixture=True)
    # the gate sits between dedup and scoring and can only drop
    assert r["n_after_rules"] is not None
    assert r["n_after_rules"] <= r["n_after_dedup"]
    assert r["n_after_quality"] <= r["n_after_rules"]
    assert r["n_final"] > 0
    # every surviving doc passes the rules (spot-check via recompute)
    from aws_datalake_platform_spark.operators.quality import gopher_rules

    survivors = gopher_rules(r["curated"], "doc_id", "text", **gate)
    assert survivors.filter(~F.col("passes")).count() == 0
    # mixture report: weights over the FINAL corpus sum to ~1
    w = sum(v["mix_weight"] for v in r["mixture_report"].values())
    assert abs(w - 1.0) < 1e-4
    assert set(r["mixture_report"]) == {
        x["source"] for x in r["curated"].select("source").distinct().collect()
    }


def test_cli_corpus_subcommand(spark, capsys, tmp_path):
    """`corpus` drives the curation pipeline end-to-end from the CLI:
    funnel counts, mixture report, and a committed snapshot."""
    from aws_datalake_platform_spark.__main__ import main

    out = str(tmp_path / "curated")
    rc = main(
        [
            "corpus",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--rule-gate",
            "--mixture-report",
            "--output",
            out,
        ]
    )
    assert rc == 0
    text = capsys.readouterr().out
    assert "n_after_rules:" in text and "n_final:" in text
    assert "mixture src" in text  # per-source weight lines
    assert "snapshot_version: 1" in text


def test_corpus_pipeline_near_dup_stage(spark):
    """Planted near-duplicates (same text, one token appended) collapse
    to one survivor when near_dup_threshold is set; exact-only runs keep
    them all."""
    from aws_datalake_platform_spark.pipelines.corpus import curate_corpus

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "to the old stone bridge near the quiet river bank today"
    )
    rows = [(i, base + f" v{i}", "en", "s0", len(base)) for i in range(1, 5)]
    rows += [(10 + i, f"unique document number {i} " + " ".join(
        f"tok{i}w{j}" for j in range(25)), "en", "s1", 100) for i in range(3)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    exact_only = curate_corpus(spark, docs, quality_threshold=0.0, bench_modulus=1000)
    near = curate_corpus(
        spark, docs, quality_threshold=0.0, bench_modulus=1000,
        near_dup_threshold=0.7,
    )
    assert exact_only["n_after_dedup"] == 7  # no byte-identical copies
    assert near["n_after_dedup"] == 4  # 4 variants -> 1 survivor, 3 unique kept
    survivors = {r["doc_id"] for r in near["curated"].select("doc_id").collect()}
    assert 1 in survivors and not {2, 3, 4} & survivors


def test_corpus_pipeline_excerpt_drop_stage(spark):
    """A short doc fully contained in a longer unique doc is dropped by
    the containment stage; the longer host and unrelated docs survive."""
    from aws_datalake_platform_spark.pipelines.corpus import curate_corpus

    host = (
        "the old stone bridge near the quiet river bank carries a narrow "
        "road that winds up the green hill toward the white village church "
        "and the small market square beyond it"
    )
    excerpt = "the old stone bridge near the quiet river bank"
    other = "completely different content about spark joins and shuffles here"
    docs = spark.createDataFrame(
        [
            (1, host, "en", "s", len(host)),
            (2, excerpt, "en", "s", len(excerpt)),
            (3, other, "en", "s", len(other)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = curate_corpus(
        spark, docs, quality_threshold=0.0, bench_modulus=1000,
        containment_threshold=0.9,
    )
    survivors = {x["doc_id"] for x in r["curated"].select("doc_id").collect()}
    assert 2 not in survivors  # the excerpt is swallowed
    assert {1, 3} <= survivors


def test_corpus_pipeline_mutual_containment_keeps_one(spark):
    """Two near-copies mutually contained above threshold must keep ONE
    representative (min id) — dropping both loses the content (r4
    review finding, reproduced before the fix)."""
    from aws_datalake_platform_spark.pipelines.corpus import curate_corpus

    base = " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, base + " endA", "en", "s", 100),
            (2, base + " endB", "en", "s", 100),  # mutual ~0.95 containment
            (3, "totally different words " + " ".join(f"x{i}" for i in range(20)),
             "en", "s", 100),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = curate_corpus(
        spark, docs, quality_threshold=0.0, bench_modulus=1000,
        containment_threshold=0.8,
    )
    survivors = {x["doc_id"] for x in r["curated"].select("doc_id").collect()}
    assert 1 in survivors  # min id of the mutual pair survives
    assert 2 not in survivors
    assert 3 in survivors


def test_corpus_pipeline_containment_chain_keeps_leaf_content(spark):
    """One-way containment is NOT transitive: with A⊂B and B⊂C one-way
    but A-in-C below threshold, dropping both A and B would lose A's
    content everywhere (ADVICE r4). The host-survival fixpoint must drop
    only B (its host C survives) and keep A (its only host died)."""
    from aws_datalake_platform_spark.pipelines.corpus import curate_corpus

    a_run = " ".join(f"alpha{i}" for i in range(12))
    m_run = " ".join(f"mid{i}" for i in range(80))
    z_run = " ".join(f"zeta{i}" for i in range(30))
    doc_a = a_run  # 10 shingles, all inside B, none in C
    doc_b = a_run + " " + m_run  # 90 shingles; 78 (m-interior) in C -> 0.87
    doc_c = m_run + " " + z_run  # 108 shingles; C-in-B 78/108=0.72 (one-way)
    docs = spark.createDataFrame(
        [
            (1, doc_a, "en", "s", len(doc_a)),
            (2, doc_b, "en", "s", len(doc_b)),
            (3, doc_c, "en", "s", len(doc_c)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = curate_corpus(
        spark, docs, quality_threshold=0.0, bench_modulus=1000,
        containment_threshold=0.8,
    )
    survivors = {x["doc_id"] for x in r["curated"].select("doc_id").collect()}
    assert 2 not in survivors  # B swallowed by surviving host C
    assert 1 in survivors  # A's host died -> A must survive
    assert 3 in survivors


def test_cli_smoke_reports_fail_on_missing_curated(spark, capsys, tmp_path, monkeypatch):
    """When a pipeline produces no curated output, smoke must print FAIL
    lines and exit 1 — never an unhandled traceback (r4 review)."""
    import aws_datalake_platform_spark.__main__ as cli

    def broken_iot(spark, raw_path, curated_path, metrics=None):
        return {"success": False}  # simulates a validation-failed pipeline

    import aws_datalake_platform_spark.pipelines.iot as iot_mod

    monkeypatch.setattr(iot_mod, "transform_iot_sensors", broken_iot)
    # _smoke imports the symbol at call time from .pipelines.iot
    rc = cli._smoke(spark, str(tmp_path / "lake"))
    out = capsys.readouterr().out
    assert rc == 1
    assert "FAIL" in out and "checks passed" in out


def test_corpus_pipeline_semantic_stage_learned_centroids(spark):
    """SemDeDup production configuration inside the pipeline: LEARNED
    k-means centroids (the IVF coarse quantizer) + the vectorized
    map-side assignment, opt-in via embeddings/semantic_threshold.

    Planted structure at ~10x the usual unit-test corpus: 4 orthogonal
    clusters x 50 members (each member jittered along its own extra
    axis, so same-cluster non-twin cosine ~0.89), plus a near-identical
    TWIN (cosine ~0.999999) for 12 members of every cluster. With
    threshold 0.97 the stage must drop exactly the 48 higher-id twins —
    100% recall, zero false positives — regardless of how k-means
    splits the clusters, because each twin lands in its original's
    cluster and only twin pairs clear the threshold."""
    from aws_datalake_platform_spark.pipelines.corpus import curate_corpus

    n_clusters, n_per, twins_per = 4, 50, 12
    dim = 4 + n_per
    docs_rows, emb_rows, twin_ids = [], [], []
    for c in range(n_clusters):
        for j in range(n_per):
            did = 1 + c * n_per + j
            v = [0.0] * dim
            v[c] = 1.0
            v[4 + j] = 0.35
            text = f"cluster {c} member {j} " + " ".join(
                f"w{c}x{j}y{t}" for t in range(8)
            )
            docs_rows.append((did, text, "en", "s", len(text)))
            emb_rows.append((did, v))
            if j < twins_per:
                tid = did + 1000
                tv = list(v)
                tv[4 + j] = 0.3501
                ttext = f"twin of cluster {c} member {j} " + " ".join(
                    f"t{c}x{j}z{t}" for t in range(8)
                )
                docs_rows.append((tid, ttext, "en", "s", len(ttext)))
                emb_rows.append((tid, tv))
                twin_ids.append(tid)
    docs = spark.createDataFrame(
        docs_rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    emb = spark.createDataFrame(emb_rows, "doc_id long, embedding array<double>")

    r = curate_corpus(
        spark, docs, quality_threshold=0.0, bench_modulus=100_000,
        embeddings=emb, semantic_threshold=0.97, semantic_n_centroids=4,
    )
    n_total = n_clusters * (n_per + twins_per)
    assert r["n_before_semantic"] == n_total
    survivors = {x["doc_id"] for x in r["curated"].select("doc_id").collect()}
    assert not (set(twin_ids) & survivors)  # every twin dropped (recall)
    # zero false positives: every original survives the whole funnel
    originals = {1 + c * n_per + j for c in range(n_clusters) for j in range(n_per)}
    assert originals <= survivors
    assert r["n_final"] == n_clusters * n_per

    # stage off -> nothing dropped semantically
    r0 = curate_corpus(spark, docs, quality_threshold=0.0, bench_modulus=100_000)
    assert r0["n_before_semantic"] is None
    assert r0["n_final"] == n_total

    # half-configured stage fails loud instead of silently no-opping
    # (ADVICE r6): threshold without embeddings, and vice versa
    import pytest as _pytest

    with _pytest.raises(ValueError, match="embeddings"):
        curate_corpus(spark, docs, semantic_threshold=0.97)
    with _pytest.raises(ValueError, match="semantic_threshold"):
        curate_corpus(spark, docs, embeddings=emb)


def test_cli_search_end_to_end(spark, capsys):
    """`search` composes the retrieval story on a stored snapshot:
    BM25 shortlist (q197 shape) -> pseudo-relevance embedding re-score
    -> MMR diversified top-k (q202's operator). Structural checks: k
    ranked lines, pick ranks in order, and the --no-rerank lexical
    path prints BM25 scores."""
    from aws_datalake_platform_spark.__main__ import main

    rc = main(["search", "spark stream window join", "--k", "3"])
    assert rc == 0
    out = capsys.readouterr().out
    lines = [ln for ln in out.splitlines() if ln.startswith("#")]
    assert len(lines) == 3
    assert lines[0].startswith("#1") and lines[2].startswith("#3")
    assert "rel=" in lines[0] and "mmr=" in lines[0]

    rc = main(["search", "spark", "--no-rerank", "--k", "2"])
    assert rc == 0
    out2 = capsys.readouterr().out
    assert "bm25=" in out2

    rc = main(["search", "   "])
    assert rc == 2


def test_backfill_planner_and_cli(spark, tmp_path, capsys):
    """plan_backfill must classify each expected day as present / empty /
    missing from directory metadata alone, for both the date= and the
    year=/month=/day= layouts; the CLI exits 1 while gaps remain."""
    import os

    from pyspark.sql import functions as F

    from aws_datalake_platform_spark.__main__ import main
    from aws_datalake_platform_spark.operators.maintenance import plan_backfill

    lake = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [(1, "2026-01-01"), (2, "2026-01-02"), (3, "2026-01-04")], "id long, date string"
    )
    df.write.partitionBy("date").parquet(lake)
    # simulate a crashed write: directory exists, data files removed
    crashed = os.path.join(lake, "date=2026-01-02")
    for f in os.listdir(crashed):
        if not f.startswith((".", "_")):
            os.remove(os.path.join(crashed, f))

    plan = {r["date"]: r["status"] for r in
            plan_backfill(lake, ["date"], "2026-01-01", "2026-01-05")}
    assert plan == {
        "2026-01-01": "present",
        "2026-01-02": "empty",
        "2026-01-03": "missing",
        "2026-01-04": "present",
        "2026-01-05": "missing",
    }

    rc = main(["backfill", lake, "--partition-cols", "date",
               "--start", "2026-01-01", "--end", "2026-01-05"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "2026-01-03  missing" in out and "2026-01-02  empty" in out
    assert "2 present, 2 missing, 1 empty" in out

    # y/m/d layout, fully present -> exit 0
    lake3 = str(tmp_path / "lake3")
    spark.createDataFrame([(1, "2026", "01", "01")], "id long, year string, month string, day string") \
        .write.partitionBy("year", "month", "day").parquet(lake3)
    rc = main(["backfill", lake3, "--partition-cols", "year,month,day",
               "--start", "2026-01-01", "--end", "2026-01-01"])
    assert rc == 0


def test_cli_quality_report(spark, capsys):
    """`quality-report` sequences the five certified monitoring queries
    into one formatted report: AUC line, calibration buckets, kappa,
    chi-square, and the language-confusion audit with disagreement
    flags."""
    from aws_datalake_platform_spark.__main__ import main

    assert main(["quality-report", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert "ROC AUC" in out and "AUC 0." in out
    assert "Calibration by score decile" in out and "brier" in out
    assert "kappa=" in out
    assert "chi2" in out and "Cramer's V" in out
    assert "Language metadata audit" in out and "disagrees" in out


def test_cli_quality_report_empty_lake(spark, capsys, tmp_path):
    """An empty lake degrades to per-section 'no data' messages instead
    of dying on a single-row unpack (ADVICE r6): the single-row summary
    queries (AUC, kappa, chi-square) return zero rows when documents is
    empty."""
    from aws_datalake_platform_spark.__main__ import main

    empty = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(0)
    empty.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    assert main(["quality-report", "--sf-dir", str(tmp_path)]) == 0
    out = capsys.readouterr().out
    assert "no data" in out
    assert "Corpus quality report" in out


def test_cli_experiment_report(spark, capsys):
    """`experiment-report` sequences the six certified experimentation
    queries into one readout: SRM gate, CUPED arms, QTE deciles,
    permutation p, design effect, and the Simpson strata guard."""
    from aws_datalake_platform_spark.__main__ import main

    assert main(["experiment-report", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert "Sample-ratio mismatch gate" in out and "chi2" in out
    assert "CUPED" in out and "theta" in out and "variance removed" in out
    assert "Quantile treatment effects" in out and "qte" in out
    assert "Permutation test" in out and "p = 0." in out
    assert "design effect" in out and "effective n" in out
    assert "Simpson" in out and "strata" in out


def test_cli_experiment_report_empty_lake(spark, capsys, tmp_path):
    """An empty lake degrades per-section instead of dying (the
    quality-report discipline applied to the experimentation family)."""
    from aws_datalake_platform_spark.__main__ import main

    for t in ("events", "lineitem"):
        spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet").limit(0) \
            .write.mode("overwrite").parquet(str(tmp_path / f"{t}.parquet"))

    assert main(["experiment-report", "--sf-dir", str(tmp_path)]) == 0
    out = capsys.readouterr().out
    assert "no data" in out
    assert "Experiment report" in out


def test_cli_forecast_report(spark, capsys):
    """`forecast-report` sequences the certified time-series queries
    into one readout: randomness gate, trend, seasonality scan, and
    the backtest champion with its gain vs naive-1."""
    from aws_datalake_platform_spark.__main__ import main

    assert main(["forecast-report", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert "Randomness gate" in out and "runs" in out
    assert "Mann-Kendall" in out and "tau" in out
    assert "Poisson growth" in out
    assert "dominant period" in out
    assert "Backtest" in out and "rmse" in out
    assert "-> ship " in out


def test_cli_forecast_report_empty_lake(spark, capsys, tmp_path):
    """An empty events lake degrades per-section instead of dying."""
    from aws_datalake_platform_spark.__main__ import main

    spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(0) \
        .write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    assert main(["forecast-report", "--sf-dir", str(tmp_path)]) == 0
    out = capsys.readouterr().out
    assert "no data" in out
    assert "Volume forecast report" in out


def test_cli_data_plan(spark, capsys):
    """`data-plan` sequences the certified training-data planners into
    one readout: mixture table, DSIR selection, BPE merge budget, and
    the split-key recommendation."""
    from aws_datalake_platform_spark.__main__ import main

    assert main(["data-plan", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert "Domain mixture" in out and "upweighted" in out
    assert "Target-domain selection" in out and "resampling candidates" in out
    assert "Tokenizer merge budget" in out and "round 6" in out
    assert "merge budget" in out
    assert "Collect more data?" in out and "exponent" in out
    assert "predicted CE at 10x" in out
    assert "Eval split key" in out and "by_cluster leak" in out
    assert "split by dedup cluster id" in out


def test_cli_data_plan_empty_lake(spark, capsys, tmp_path):
    """An empty documents lake degrades per-section instead of dying."""
    from aws_datalake_platform_spark.__main__ import main

    for t in ("documents",):
        spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet").limit(0) \
            .write.mode("overwrite").parquet(str(tmp_path / f"{t}.parquet"))

    assert main(["data-plan", "--sf-dir", str(tmp_path)]) == 0
    out = capsys.readouterr().out
    assert "no data" in out
    assert "Training-data plan" in out

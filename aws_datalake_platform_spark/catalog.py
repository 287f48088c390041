"""Catalog: authoritative schemas + table registration.

Mirrors the reference's Glue Data Catalog role (reference:
terraform/modules/glue/main.tf:37-290 declares 4 tables with fixed
schemas; the Spark job then schema-infers on read, transform.py:144,203).
Here the StructTypes below are the source of truth; raw JSON readers may
still infer when asked (``infer=True``).

Also registers the driver's TPC-H-ish testdata parquet tables
(TESTDATA.md) as temp views so the full Spark SQL surface — the Athena
role in the reference (README.md:128-132) — works against them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ── Reference table schemas (terraform/modules/glue/main.tf:37-290) ──────────
# The catalog stores timestamps as ISO-8601 *strings* end-to-end
# (glue/main.tf:70-72); we preserve that for parity and derive typed
# timestamp columns at the query layer.

RAW_WEATHER = T.StructType(
    [
        T.StructField("ingestion_id", T.StringType(), False),
        T.StructField("city", T.StringType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
        T.StructField("timestamp", T.StringType(), True),
        T.StructField("temperature_c", T.DoubleType(), True),
        T.StructField("humidity_pct", T.DoubleType(), True),
        T.StructField("windspeed_kmh", T.DoubleType(), True),
        T.StructField("precipitation_mm", T.DoubleType(), True),
        T.StructField("ingested_at", T.StringType(), True),
    ]
)

RAW_IOT_SENSORS = T.StructType(
    [
        T.StructField("sensor_id", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("timestamp", T.StringType(), True),
        T.StructField("temperature_c", T.DoubleType(), True),
        T.StructField("humidity_pct", T.DoubleType(), True),
        T.StructField("aqi", T.DoubleType(), True),
        T.StructField("battery_level", T.DoubleType(), True),
    ]
)

# curated = raw + derived columns (FIXTURES.md §3)
CURATED_WEATHER = T.StructType(
    RAW_WEATHER.fields
    + [
        T.StructField("temperature_f", T.DoubleType(), True),
        T.StructField("date", T.StringType(), True),
    ]
)

CURATED_SENSOR_READINGS = T.StructType(
    [f for f in RAW_IOT_SENSORS.fields if f.name != "sensor_id"]
    + [
        T.StructField("sensor_id_hash", T.StringType(), True),
        T.StructField("quality_score", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
    ]
)

REFERENCE_TABLES = {
    "raw_weather": RAW_WEATHER,
    "raw_iot_sensors": RAW_IOT_SENSORS,
    "curated_weather": CURATED_WEATHER,
    "curated_sensor_readings": CURATED_SENSOR_READINGS,
}

# ── Testdata tables (TESTDATA.md) ────────────────────────────────────────────

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_nanos_as_long(spark: SparkSession) -> None:
    """session.get_spark sets spark.sql.legacy.parquet.nanosAsLong at build
    time, but the entry-point contract hands us a DRIVER-owned session we
    didn't build — ensure the flag here, guarded so query functions never
    re-mutate an already-correct session."""
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


# Session confs that change what parquet schema inference returns
# (ParquetToSparkSchemaConverter and the footer merge in Spark 4.1). They
# are part of the schema memo's key, so a session that reads the same
# files under different settings infers its own schema.
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
    "spark.sql.caseSensitive",
)

# (abspath, inference confs) -> (_lake_fingerprint, schema) of the last
# parquet schema inferred there this process: the Glue catalog's role in
# the reference, a table's schema held once, not re-derived per query.
# Inference is a Spark job reading a footer (70-95 ms per load on a
# 4-vCPU host); a read given the schema launches none. One entry per
# path, so rewriting a table replaces its entry instead of adding one.
# Threads loading the same new table may both infer; both store the
# same schema.
_SCHEMAS: dict[tuple, tuple[tuple, T.StructType]] = {}


def _lake_fingerprint(path: str) -> tuple | None:
    """(relative name, size, mtime_ns) of every file at or under ``path``,
    in name order: equal fingerprints mean an unchanged file set, so a
    table rewritten in place gets a new one. None when the path cannot be
    listed locally (a remote URI, a missing path): nothing is memoized
    for it."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
        files = []
        for root, dirs, names in os.walk(path):
            dirs.sort()
            for n in sorted(names):
                full = os.path.join(root, n)
                st = os.stat(full)
                files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
        return tuple(files)
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, tuple | None]:
    """``spark.read.parquet(path)`` that infers the schema on the first read
    of a file set and passes it on later ones. Only a read that succeeded
    is memoized. A file set rewritten since its last read is refreshed
    first: Spark would otherwise serve relations cached from the old files
    (the LSH detectors' features) to plans over the new ones. Returns the
    frame and the path's fingerprint."""
    fingerprint = _lake_fingerprint(path)
    if fingerprint is None:
        return spark.read.parquet(path), None
    key = (os.path.abspath(path), tuple(spark.conf.get(c) for c in _PARQUET_INFERENCE_CONFS))
    known = _SCHEMAS.get(key)
    if known is not None and known[0] == fingerprint:
        return spark.read.schema(known[1]).parquet(path), fingerprint
    if known is not None:
        spark.catalog.refreshByPath(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (fingerprint, df.schema)
    return df, fingerprint


def _load(spark: SparkSession, sf_dir: str, name: str) -> tuple[DataFrame, tuple | None]:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        ensure_nanos_as_long(spark)
    df, fingerprint = _read_parquet(spark, path)
    if name == "events":
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df, fingerprint


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan; Catalyst handles column pruning + predicate
    pushdown, so callers should filter/select on the returned DataFrame
    rather than materializing it. The schema is inferred on the first
    load of a file set and reused after (``_read_parquet``).

    The events table's ``ts`` has shipped in three parquet flavors across
    driver testdata generations: TIMESTAMP(NANOS) (read as bigint nanos
    under nanosAsLong), naive microseconds (read as TIMESTAMP_NTZ), and
    UTC-adjusted micros (TIMESTAMP_LTZ). Normalize all three to
    TIMESTAMP_LTZ — event-time streaming (watermarks) requires LTZ, and
    with the session timezone pinned to UTC the NTZ→LTZ cast is an
    identity on the wall-clock values the oracle compares.
    """
    return _load(spark, sf_dir, name)[0]


# Lake-contract primary keys (the reference's Glue DDL treats these id
# columns as keys). Queries whose semantics are undefined on duplicate
# ids load through load_table_pk; validate-lake checks the whole map.
TABLE_PRIMARY_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
    # lineitem has no entry: TPC-H declares (l_orderkey, l_linenumber)
    # composite, but the driver-generated testdata does not honor it
    # (sf0.001: 1401 duplicate pairs) and no registered query depends on
    # it — validate-lake reports it as info only.
}

# (abspath(sf_dir), table, key, _lake_fingerprint) already verified this
# process. One loud one-aggregate check per unchanged file set amortizes
# to zero across the bench's warm passes and repeated query invocations;
# a table rewritten in place has a new fingerprint and is checked again.
_PK_VERIFIED: set[tuple[str, str, str, tuple | None]] = set()


def load_table_pk(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load_table`` plus a LOUD primary-key uniqueness guard.

    The constant-lake probe (scripts/degenerate_probe.py) documented six
    queries (q64 q107 q118 q203 q238 q332) whose oracles carry per-id
    ROW_NUMBER/GROUP BY steps that silently dedup duplicate ids while
    the engine processes every physical row — undefined semantics on
    PK-violating input. Those queries, and the IVF top-k queries q47 and
    q209, load their keyed table through this wrapper so such input
    raises ``DuplicateKeyError`` instead of silently returning different
    numbers. One extra count/count-distinct
    aggregate per unchanged table file set per process (cached;
    column-pruned scan of just the key column).
    """
    from .validation import require_unique_key

    df, fingerprint = _load(spark, sf_dir, name)
    key = TABLE_PRIMARY_KEYS[name]
    token = (os.path.abspath(sf_dir), name, key, fingerprint)
    if token not in _PK_VERIFIED:
        require_unique_key(df.select(key), key, name)
        _PK_VERIFIED.add(token)
    return df


def register_testdata(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every testdata table as a temp view for spark.sql().

    Routed through load_table so the events view exposes ``ts`` as a real
    timestamp (not bigint nanos) — the same shape every query expects."""
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def create_reference_tables(spark: SparkSession, lake_root: str) -> None:
    """Create the 4 reference tables as external partitioned tables over a
    local 'lake' directory — the Spark analogue of the Glue catalog DDL
    (glue/main.tf:37-290) + Athena serving surface.

    Partition layout parity: curated tables partition by ``date``
    (glue/main.tf:227-231,285-289); raw iot by year/month/day
    (kinesis/main.tf:38).
    """
    spark.sql("CREATE DATABASE IF NOT EXISTS datalake")
    layouts = {
        "raw_weather": ("raw/weather", ["date"], "json"),
        "raw_iot_sensors": ("raw/iot-sensors", ["year", "month", "day"], "json"),
        "curated_weather": ("curated/weather", ["date"], "parquet"),
        "curated_sensor_readings": ("curated/sensor-readings", ["date"], "parquet"),
    }
    for table, (prefix, parts, fmt) in layouts.items():
        schema = REFERENCE_TABLES[table]
        data_cols = [f for f in schema.fields if f.name not in parts]
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in data_cols)
        extra = {"date": "string", "year": "string", "month": "string", "day": "string"}
        part_cols = ", ".join(f"`{p}` {extra[p]}" for p in parts)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS datalake.{table} ({cols}) USING {fmt} "
            f"PARTITIONED BY ({part_cols}) LOCATION '{lake_root}/{prefix}'"
        )


def recover_partitions(spark: SparkSession, table: str) -> None:
    """Partition sync after writes — the reference runs MSCK REPAIR TABLE
    after every curated write (transform.py:188,268)."""
    spark.sql(f"MSCK REPAIR TABLE {table}")
